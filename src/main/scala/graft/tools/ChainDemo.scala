package graft.tools

import graft.core._
import graft.operators._
import graft.sources.ChainGen
import org.apache.spark.sql.functions._

/** Dev-only surface driver: exercises the chain engine end-to-end through
  * its public API — generate chain → forward → rollback → replay — and
  * prints observable state at each step.
  */
object ChainDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("chaindemo").toString
    val reducers = ReducerGraphs.default(ChainGen.Watched)
    val store = new StateStore(root, spark)
    val runner = new GraphRunner(spark, store, reducers, batchSize = 10)
    val blocks = ChainGen.generate(40)
    val oracle = ChainGen.balanceOracle(blocks)

    def balances(): Map[String, Long] = {
      val defs = reducers(2).tables
      WalletUtxoReducer.unspentView(
          store.read("utxo_created", defs(0).schema),
          store.read("utxo_spent", defs(1).schema))
        .groupBy(col("addressName")).agg(sum(col("amount")).as("b"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    runner.processEvents(blocks.map(RollForward.apply))
    println(s"[demo] after forward: blocks=${store.read("blocks", reducers.head.tables.head.schema).count()} " +
      s"balances=${balances()} oracleTip=${oracle.last._2.filter(_._2 > 0)}")

    val cut = blocks(29)
    runner.applyRollback(Point(cut.hash, cut.slot), Exclusive)
    println(s"[demo] after rollback@${cut.slot}: blocks=${store.read("blocks", reducers.head.tables.head.schema).count()} " +
      s"balances=${balances()} oracle@30=${oracle(29)._2.filter(_._2 > 0)}")

    runner.processEvents(blocks.drop(30).map(RollForward.apply))
    val ok = balances() == oracle.last._2.filter(_._2 > 0)
    println(s"[demo] after replay: balances=${balances()} convergedWithOracle=$ok")
    println(s"[demo] checkpoints=${store.manifest.checkpoints.map { case (k, v) => k -> CheckpointWindow.latest(v).map(_.slot) }}")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
