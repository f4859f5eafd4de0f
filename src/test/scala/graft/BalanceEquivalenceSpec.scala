package graft

import graft.core._
import graft.operators._
import graft.sources.ChainGen
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The one-exchange balance operator against the join formulation it
  * replaced, row for row on every batch: both run on the same batch
  * context (same blocks, parent outputs and committed state), and the
  * operator's rows are the ones committed, so each later batch's prior
  * comes from them. Cases: the first batch (empty prior), an address the
  * chain never pays, a rollback then a replay, `flush(DataFrame)` with
  * duplicate block rows, and a balance reducer configured to start after
  * `wallet_utxo`, whose creates and spends then fall outside its grid.
  */
class BalanceEquivalenceSpec extends SparkSpec {
  import BalanceEquivalenceSpec._

  /** ChainGen's watched set plus an address no block pays. */
  private val watched = ChainGen.Watched + ("addr_idle" -> "dave")

  /** Runs both formulations; commits the operator's rows. */
  private final class Compared extends ChainReducer {
    private val operator = new BalanceSnapshotReducer(watched)
    private val reference = new ReferenceBalance(watched)
    val name = operator.name
    override val dependsOn = operator.dependsOn
    val tables = operator.tables
    /** (blocks in, operator rows, reference rows) per batch */
    val batches = mutable.ArrayBuffer[(Int, Seq[Row], Seq[Row])]()

    def rollForward(blocks: DataFrame, ctx: BatchContext): Map[String, DataFrame] = {
      val got = operator.rollForward(blocks, ctx)("balance_snapshots")
      val want = reference.rollForward(blocks, ctx)("balance_snapshots")
      batches += ((blocks.count().toInt, sorted(got), sorted(want)))
      Map("balance_snapshots" -> got)
    }
  }

  private def graph(c: Compared): Seq[ChainReducer] = Seq(
    new BlockSummaryReducer, new TxIndexReducer,
    new WalletUtxoReducer(watched), c)

  private def assertSame(c: Compared): Unit = {
    assert(c.batches.nonEmpty, "no batch reached the balance reducer")
    c.batches.zipWithIndex.foreach { case ((_, got, want), i) =>
      assert(got == want, s"batch $i: operator ${got.diff(want)} " +
        s"vs reference ${want.diff(got)}")
    }
  }

  private def stores = Seq(
    "jdbc" -> ((d: String) => new JdbcStore(d, spark): Store),
    "segments" -> ((d: String) => new StateStore(d, spark): Store))

  stores.foreach { case (kind, mk) =>
    test(s"$kind: first batch, an idle address, rollback then replay match the reference") {
      val blocks = ChainGen.generate(24, seed = 11L)
      val c = new Compared
      val runner = new GraphRunner(spark, mk(tmpDir(s"bal-eq-$kind")), graph(c),
        batchSize = 7)
      runner.processEvents(blocks.map(RollForward.apply))
      val cut = blocks(12)
      runner.applyRollback(Point(cut.hash, cut.slot), Exclusive)
      runner.processEvents(blocks.drop(13).map(RollForward.apply))
      assertSame(c)
      // batch 0 ran on an empty prior; the replay's first batch on the
      // segment the rollback left
      assert(c.batches.size == 6)
      val idle = c.batches.flatMap(_._2).filter(_.getString(1) == "dave")
      assert(idle.nonEmpty && idle.forall(_.getLong(4) == 0L))
      val tip = c.batches.last._2.filter(_.getLong(3) == blocks.last.slot)
        .map(r => r.getString(1) -> r.getLong(4)).toMap
      assert(tip == ChainGen.balanceOracle(blocks, watched).last._2)
    }
  }

  test("flush(DataFrame) with duplicate block rows gives one row per address and slot") {
    import spark.implicits._
    val blocks = ChainGen.generate(16, seed = 5L)
    val c = new Compared
    val runner = new GraphRunner(spark, new JdbcStore(tmpDir("bal-eq-dup"), spark),
      graph(c))
    Seq(blocks.take(8), blocks.drop(8)).foreach { batch =>
      runner.flush((batch ++ batch.take(3)).toDS().toDF())
    }
    assertSame(c)
    c.batches.foreach { case (n, got, _) =>
      assert(n == 11)
      assert(got.size == 8 * watched.size)
      assert(got.map(r => (r.getString(1), r.getLong(3))).distinct.size == got.size)
    }
  }

  test("a balance reducer starting after wallet_utxo drops the deltas outside its grid") {
    val blocks = ChainGen.generate(21, seed = 3L)
    val start = blocks(9)
    // wallet_utxo sees blocks 7 and 8 in the second batch, balance does not
    assert(blocks.slice(7, 10).exists(_.transactions.exists(tx =>
      tx.outputs.exists(o => watched.contains(o.address)))),
      "no watched create in the slots outside the grid: the case is vacuous")
    val c = new Compared
    val runner = new GraphRunner(spark, new JdbcStore(tmpDir("bal-eq-start"), spark),
      graph(c), batchSize = 7,
      configuredStarts = Map("balance_by_address" -> Point(start.hash, start.slot)))
    runner.processEvents(blocks.map(RollForward.apply))
    assertSame(c)
    assert(c.batches.map(_._1) == Seq(0, 4, 7))
  }
}

object BalanceEquivalenceSpec {
  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(3), r.getString(1), r.getLong(4)))

  /** The balance formulation the one-exchange operator replaced: deltas
    * grouped per (address, slot), the distinct block slots crossed with
    * the watched set, both joined, the `max_by` prior broadcast onto them,
    * and a running sum per address. */
  final class ReferenceBalance(watched: Map[String, String]) {
    val name = "balance_by_address"

    def rollForward(blocks: DataFrame, ctx: BatchContext): Map[String, DataFrame] = {
      import org.apache.spark.sql.expressions.Window
      val spark = ctx.spark
      import spark.implicits._
      val created = ctx.parentOutput("wallet_utxo", "utxo_created")
      val spentRefs = ctx.parentOutput("wallet_utxo", "utxo_spent")
      val allCreated = ctx.tableWithBatch("wallet_utxo", "utxo_created")
      val plus = created.select(col("addressName"), col("slot"),
        col("amount").as("delta"))
      val minus = spentRefs
        .join(allCreated, Seq("txHash", "txIndex"))
        .select(col("addressName"), col("spentSlot").as("slot"),
          (-col("amount")).as("delta"))
      val deltas = plus.unionByName(minus)
        .groupBy(col("addressName"), col("slot"))
        .agg(sum(col("delta")).as("delta"))
      val prior = ctx.latestSegment("balance_snapshots")
        .groupBy(col("addressName"))
        .agg(max_by(col("balance"), col("slot")).as("prior"))
      val grid = blocks.select(col("slot")).distinct()
        .crossJoin(broadcast(watched.toSeq.toDF("address", "addressName")))
      val w = Window.partitionBy(col("addressName")).orderBy(col("slot"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val snaps = grid
        .join(deltas, Seq("addressName", "slot"), "left_outer")
        .join(broadcast(prior), Seq("addressName"), "left_outer")
        .withColumn("balance",
          coalesce(col("prior"), lit(0L)) +
            sum(coalesce(col("delta"), lit(0L))).over(w))
        .select(lit(name).as("reducer"), col("addressName"), col("address"),
          col("slot"), col("balance"))
      Map("balance_snapshots" -> snaps)
    }
  }
}
