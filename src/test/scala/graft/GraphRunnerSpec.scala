package graft

import graft.core._
import graft.operators._
import graft.sources.ChainGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Graph validation (T8), empty-commit deferral (T4), idempotent replay
  * (T3), and crash recovery via safe-intersection resume (T9/T10) —
  * ports in shape of the reference's `DependencySystemTest`,
  * `EfBlockUnitOfWorkTest` deferral cases, and `WorkerCrashRecoveryTest`.
  */
class GraphRunnerSpec extends SparkSpec {

  private class Named(val name: String, dep: Option[String] = None)
      extends ChainReducer {
    override def dependsOn: Option[String] = dep
    val tables = Seq(TableDef(s"t_$name", StructType(Seq(
      StructField("slot", LongType)))))
    def rollForward(blocks: DataFrame, ctx: BatchContext): Map[String, DataFrame] =
      Map(s"t_$name" -> blocks.select(org.apache.spark.sql.functions.col("slot")))
  }

  test("topological order: parents before children, BFS from roots (T8)") {
    val store = new StateStore(tmpDir("graph"), spark)
    val r = new GraphRunner(spark, store, Seq(
      new Named("c", Some("b")), new Named("b", Some("a")),
      new Named("a"), new Named("d", Some("a"))))
    val order = r.topoOrder.map(_.name)
    assert(order.indexOf("a") < order.indexOf("b"))
    assert(order.indexOf("b") < order.indexOf("c"))
    assert(order.indexOf("a") < order.indexOf("d"))
  }

  test("missing dependency and 2-cycles are rejected at registration") {
    val store = new StateStore(tmpDir("graph-bad"), spark)
    val missing = intercept[IllegalArgumentException] {
      new GraphRunner(spark, store, Seq(new Named("x", Some("nope"))))
    }
    assert(missing.getMessage.contains("missing"))
    val cycle = intercept[IllegalArgumentException] {
      new GraphRunner(spark, store, Seq(
        new Named("p", Some("q")), new Named("q", Some("p"))))
    }
    assert(cycle.getMessage.contains("cycle"))
  }

  test("empty-batch commit is deferred; checkpoints carried to next data commit (T4)") {
    // a reducer that only writes when a watched address appears
    val store = new StateStore(tmpDir("defer"), spark)
    val runner = new GraphRunner(spark, store,
      Seq(new WalletUtxoReducer(Map("addrff" -> "nobody"))), batchSize = 3)
    val blocks = ChainGen.generate(6, seed = 3L) // no addrff outputs
    runner.processEvents(blocks.take(3).map(RollForward.apply))
    assert(store.manifest.batchId == -1L, "empty batch must not commit")
    assert(store.manifest.checkpoints.isEmpty)

    // now a runner watching a real address: deferred points flush with
    // data — end the chain with a guaranteed watched output so the final
    // batch is data-bearing and must carry every deferred point.
    val tipBlock = Block("tip", 999L, blocks.last.slot + 2,
      Seq(Tx("txtip", Nil, Seq(TxOutput("addr00", 5000L)))))
    val store2 = new StateStore(tmpDir("defer2"), spark)
    val runner2 = new GraphRunner(spark, store2,
      Seq(new WalletUtxoReducer(ChainGen.Watched)), batchSize = 2)
    runner2.processEvents((blocks :+ tipBlock).map(RollForward.apply))
    val cps = store2.manifest.checkpoints("wallet_utxo")
    assert(CheckpointWindow.latest(cps).exists(_.slot == tipBlock.slot),
      "checkpoint must reach the tip once data commits")
  }

  test("replaying a committed batchId is a no-op (T3 idempotency)") {
    import spark.implicits._
    val store = new StateStore(tmpDir("idem"), spark)
    val df = Seq((1L, "a"), (2L, "b")).toDF("slot", "v")
    assert(store.commit(0L, Map("t" -> (df, "slot")), Map.empty))
    val seen = store.manifest
    assert(!store.commit(0L, Map("t" -> (df, "slot")), Map.empty))
    assert(store.manifest == seen)
    val schema = StructType(Seq(StructField("slot", LongType),
      StructField("v", StringType)))
    assert(store.read("t", schema).count() == 2)
  }

  test("crash after commit N: restart resumes from checkpoint and converges (T9/T10)") {
    val blocks = ChainGen.generate(30, seed = 42L)
    val oracle = ChainGen.balanceOracle(blocks)
    val root = tmpDir("crash")
    def mkReducers = Seq(
      new BlockSummaryReducer, new TxIndexReducer,
      new WalletUtxoReducer(ChainGen.Watched),
      new BalanceSnapshotReducer(ChainGen.Watched))

    // run 1 processes only a prefix, then "crashes" (instance dropped)
    val store1 = new StateStore(root, spark)
    new GraphRunner(spark, store1, mkReducers, batchSize = 6)
      .processEvents(blocks.take(17).map(RollForward.apply))
    // 17 isn't a batch boundary: blocks 13..16 were flushed by drain;
    // a real crash may lose an open batch — simulate by replaying from
    // scratch through resume(), which rolls back to the checkpoint and
    // re-feeds everything after it.
    val store2 = new StateStore(root, spark)
    val runner2 = new GraphRunner(spark, store2, mkReducers, batchSize = 6)
    runner2.resume(blocks.map(RollForward.apply))

    val got = store2.read("blocks", mkReducers.head.tables.head.schema)
      .collect().map(_.getString(0)).sorted
    assert(got.toSeq == blocks.map(_.hash).sorted, "no dupes, no gaps")
    val snaps = store2.read("balance_snapshots", mkReducers(3).tables.head.schema)
    assert(snaps.groupBy("slot", "addressName").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count() == 0,
      "no duplicate snapshots after replay")
    val tip = snaps.filter(org.apache.spark.sql.functions.col("slot") === blocks.last.slot)
      .collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(tip == oracle.last._2)
  }

  test("deep rewind beyond the checkpoint window: restart replays WITHOUT duplicating retained rows") {
    // the checkpoint window holds only ~10 newest distinct slots: a
    // rollback that merely TRIMMED it would empty every window on a
    // rewind deeper than the window while the tables keep their rows
    // below the rewind slot, and the next restart would see "no
    // checkpoints", replay from genesis, and silently DOUBLE the
    // retained prefix. Exclusive rollbacks therefore persist their
    // surviving point, and reconcileStartup rebuilds when data exists
    // with zero checkpoints.
    val blocks = ChainGen.generate(40, seed = 7L)
    val oracle = ChainGen.balanceOracle(blocks)
    val root = tmpDir("deep-rewind")
    def mkReducers = Seq(
      new BlockSummaryReducer, new TxIndexReducer,
      new WalletUtxoReducer(ChainGen.Watched),
      new BalanceSnapshotReducer(ChainGen.Watched))
    val store1 = new StateStore(root, spark)
    new GraphRunner(spark, store1, mkReducers, batchSize = 10)
      .processEvents(blocks.map(RollForward.apply))
    // rewind FAR below the window (keep 5 of 40 blocks)
    val cut = blocks(4)
    val runner1b = new GraphRunner(spark, store1, mkReducers, batchSize = 10)
    runner1b.forceRollback(Point(cut.hash, cut.slot), Exclusive)
    assert(runner1b.maxCheckpointSlot == cut.slot,
      "the surviving rewind point must remain checkpointed — an empty " +
        "window is the genesis-replay duplication hazard")
    // restart: resume must replay ONLY blocks after the rewind point
    val store2 = new StateStore(root, spark)
    val runner2 = new GraphRunner(spark, store2, mkReducers, batchSize = 10)
    runner2.resume(blocks.map(RollForward.apply))
    val got = store2.read("blocks", mkReducers.head.tables.head.schema)
      .collect().map(_.getString(0)).sorted
    assert(got.toSeq == blocks.map(_.hash).sorted,
      "no duplicates, no gaps after a deep rewind + restart")
    val snaps = store2.read("balance_snapshots",
      mkReducers(3).tables.head.schema)
    assert(snaps.groupBy("slot", "addressName").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count() == 0,
      "retained prefix must not be double-applied")
    val tip = snaps.filter(
        org.apache.spark.sql.functions.col("slot") === blocks.last.slot)
      .collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(tip == oracle.last._2)
  }

  test("resume lowers its replay floor past an in-stream rollback: replacement blocks below the checkpoint are processed") {
    // the chain reorged WHILE the runner was down: the resume feed opens
    // with a rollback below the safe slot, and the replacement branch
    // carries slots at or below it — a static replay-trim floor would
    // drop them, sealing a permanent gap behind the next checkpoint
    val main = ChainGen.generate(20, seed = 42L)
    val root = tmpDir("resume-reorg")
    def mkReducers = Seq(
      new BlockSummaryReducer, new TxIndexReducer,
      new WalletUtxoReducer(ChainGen.Watched),
      new BalanceSnapshotReducer(ChainGen.Watched))
    val store1 = new StateStore(root, spark)
    new GraphRunner(spark, store1, mkReducers, batchSize = 5)
      .processEvents(main.map(RollForward.apply))
    // reorg point: keep the first 8 blocks, replace the rest with a fork
    // whose slots START BELOW the committed checkpoint
    val keep = main.take(8)
    val fork = ChainGen.generate(12, seed = 99L,
      startSlot = keep.last.slot, tag = "f")
    val store2 = new StateStore(root, spark)
    val runner2 = new GraphRunner(spark, store2, mkReducers, batchSize = 5)
    assert(runner2.latestCheckpointSlot >= fork.head.slot,
      "precondition: the fork begins below the safe slot")
    runner2.resume(
      Iterator.single[BlockEvent](
        RollBack(Point(keep.last.hash, keep.last.slot), Exclusive)) ++
        fork.map(RollForward.apply))
    val got = store2.read("blocks", mkReducers.head.tables.head.schema)
      .collect().map(_.getString(0)).sorted
    assert(got.toSeq == (keep ++ fork).map(_.hash).sorted,
      "replacement blocks below the old floor must not be dropped")
  }

  test("a batch reads each committed table once; a rollback reads the checkpoints once") {
    // forwarding store that counts its state reads
    final class Counting(inner: Store) extends Store {
      val reads = scala.collection.mutable.ArrayBuffer[String]()
      def root: String = inner.root
      override def preferLocalOutputs: Boolean = inner.preferLocalOutputs
      def batchId: Long = inner.batchId
      def checkpoints: Map[String, Seq[Point]] = {
        reads += "checkpoints"; inner.checkpoints
      }
      def read(table: String, schema: StructType): DataFrame = {
        reads += table; inner.read(table, schema)
      }
      def readLatestSegment(table: String, schema: StructType): DataFrame = {
        reads += s"latest:$table"; inner.readLatestSegment(table, schema)
      }
      def commit(batchId: Long, appends: Map[String, (DataFrame, String)],
          checkpoints: Map[String, Seq[Point]],
          compactors: Map[String, BoundCompactor],
          onSegment: (String, Double) => Unit): Boolean =
        inner.commit(batchId, appends, checkpoints, compactors, onSegment)
      def rollback(delSlot: Long, slotCols: Map[String, String],
          checkpoints: Map[String, Seq[Point]]): Unit =
        inner.rollback(delSlot, slotCols, checkpoints)
    }
    val blocks = ChainGen.generate(12, seed = 42L)
    Seq[String => Store](new JdbcStore(_, spark), new StateStore(_, spark))
      .foreach { mk =>
        val store = new Counting(mk(tmpDir("reads")))
        val runner = new GraphRunner(spark, store,
          ReducerGraphs.default(ChainGen.Watched))
        runner.flush(blocks.take(6))
        store.reads.clear()
        runner.flush(blocks.drop(6))
        val perTable = store.reads.groupBy(identity).view.mapValues(_.size).toMap
        assert(perTable.get("utxo_created").contains(1), perTable)
        assert(perTable.values.forall(_ == 1), perTable)
        store.reads.clear()
        runner.applyRollback(Point(blocks(8).hash, blocks(8).slot), Exclusive)
        assert(store.reads.toSeq == Seq("checkpoints"), store.reads)
      }
  }
}
