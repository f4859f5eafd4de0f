package graft.tools

import graft.core._
import graft.operators._
import graft.sources.ChainGen

/** Live smoke monitor — the reference's
  * `LiveSmokeMonitor.cs:12-60` contract: poll a store for up to
  * `timeoutSeconds`, exit 0 as soon as the progress criteria hold
  * (checkpoints present for every reducer AND the blocks table advanced
  * past `minBlocks` rows), exit 1 otherwise. Designed to supervise an
  * ingestion run from CI/ops scripts.
  *
  * Usage: SmokeMonitor <storeRoot> [minBlocks] [timeoutSeconds]
  */
object SmokeMonitor {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SmokeMonitor <storeRoot> [minBlocks] [timeoutSeconds]")
    val root = args(0)
    val minBlocks = if (args.length > 1) args(1).toLong else 1L
    val timeoutSec = if (args.length > 2) args(2).toInt else 60
    val spark = graft.Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val store = new StateStore(root, spark)
    val reducers: Seq[ChainReducer] = ReducerGraphs.default(ChainGen.Watched)
    // by TABLE NAME, not position — reducers.head silently broke on any
    // reorder of ReducerGraphs.default (the q60 fix applied
    // here too)
    val blocksSchema = reducers.flatMap(_.tables)
      .find(_.name == "blocks")
      .getOrElse(throw new IllegalStateException(
        "blocks table missing from the default graph")).schema
    val deadline = System.currentTimeMillis() + timeoutSec * 1000L
    var ok = false
    while (!ok && System.currentTimeMillis() < deadline) {
      val cps = store.checkpoints
      val allCheckpointed = reducers.forall(r =>
        cps.get(r.name).exists(_.nonEmpty))
      val nBlocks =
        try store.read("blocks", blocksSchema).count()
        catch { case _: Exception => 0L }
      System.err.println(s"[smoke] checkpointed=$allCheckpointed " +
        s"blocks=$nBlocks/$minBlocks")
      ok = allCheckpointed && nBlocks >= minBlocks
      if (!ok) Thread.sleep(2000)
    }
    spark.stop()
    if (ok) { println("[smoke] PASS"); sys.exit(0) }
    else { println("[smoke] FAIL"); sys.exit(1) }
  }
}
