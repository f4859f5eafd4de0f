package graft

import graft.core._
import graft.operators._
import graft.sources.ChainGen

/** The storage-seam contract (reference `IBlockUnitOfWork.cs:21-56`,
  * proven there with EF/Postgres and Mongo backends): the SAME engine
  * semantics — atomic data+checkpoint commit, idempotent replay,
  * empty-commit deferral, retraction with checkpoint rewind, crash
  * resume — must hold for every `Store`. Runs the suite against the
  * parquet segment log (`StateStore`) and embedded Derby (`JdbcStore`).
  */
class StoreContractSpec extends SparkSpec {

  private def backends: Seq[(String, String => Store)] = Seq(
    "segment-log" -> (root => new StateStore(root, spark)),
    "jdbc-derby" -> (root => new JdbcStore(root, spark)))

  private def reducers = Seq(
    new BlockSummaryReducer,
    new TxIndexReducer,
    new WalletUtxoReducer(ChainGen.Watched),
    new BalanceSnapshotReducer(ChainGen.Watched))

  private def snapshotState(store: Store): Map[Long, Map[String, Long]] =
    store.read("balance_snapshots", reducers(3).tables.head.schema)
      .collect().groupBy(_.getLong(3)).map { case (slot, rows) =>
        slot -> rows.map(r => r.getString(1) -> r.getLong(4)).toMap
      }

  backends.foreach { case (label, mkStore) =>

    test(s"[$label] forward replay matches oracle; rollback rewinds; replay converges") {
      val blocks = ChainGen.generate(25, seed = 42L)
      val oracle = ChainGen.balanceOracle(blocks)
      val store = mkStore(tmpDir(s"contract-$label"))
      val runner = new GraphRunner(spark, store, reducers, batchSize = 6)
      runner.processEvents(blocks.map(RollForward.apply))
      val got = snapshotState(store)
      assert(got.size == oracle.size)
      oracle.foreach { case (slot, bal) =>
        assert(got(slot) == bal, s"slot $slot: got ${got.get(slot)}")
      }
      // retraction + checkpoint rewind, atomically
      val cut = blocks(14)
      runner.applyRollback(Point(cut.hash, cut.slot), Exclusive)
      assert(snapshotState(store).size == 15)
      assert(store.checkpoints.values
        .forall(w => CheckpointWindow.latest(w).forall(_.slot <= cut.slot)))
      // replay converges
      runner.processEvents(blocks.drop(15).map(RollForward.apply))
      assert(snapshotState(store) ==
        oracle.map { case (s, b) => s -> b }.toMap)
    }

    test(s"[$label] idempotent replay: stale batchId is a no-op (T3)") {
      val blocks = ChainGen.generate(8, seed = 5L)
      val store = mkStore(tmpDir(s"idem-$label"))
      val runner = new GraphRunner(spark, store, reducers, batchSize = 100)
      runner.processEvents(blocks.map(RollForward.apply))
      val before = store.batchId
      val nRows = store.read("blocks", reducers.head.tables.head.schema).count()
      // direct stale commit must change nothing
      val sp = spark
      import sp.implicits._
      val dup = sp.createDataset(blocks).toDF()
        .select("hash", "height", "slot")
      val wrote = store.commit(before,
        Map("blocks" -> (dup, "slot")), store.checkpoints)
      assert(!wrote)
      assert(store.batchId == before)
      assert(store.read("blocks", reducers.head.tables.head.schema).count()
        == nRows)
    }

    test(s"[$label] subset-registered runner: commit preserves others' checkpoints; rollback rewinds all") {
      val blocks = ChainGen.generate(12, seed = 9L)
      val store = mkStore(tmpDir(s"subset-$label"))
      // full graph syncs everything
      new GraphRunner(spark, store, reducers, batchSize = 4)
        .processEvents(blocks.map(RollForward.apply))
      val before = store.checkpoints
      assert(before.size == reducers.size)

      // a runner registering ONLY block_summary commits new blocks:
      // the other reducers' checkpoints must survive untouched
      val more = ChainGen.generate(3, seed = 91L,
        startSlot = blocks.last.slot, tag = "more")
      val light = new GraphRunner(spark, store,
        Seq(new BlockSummaryReducer), batchSize = 4)
      light.processEvents(more.map(RollForward.apply))
      val after = store.checkpoints
      assert(CheckpointWindow.latest(after("wallet_utxo"))
        == CheckpointWindow.latest(before("wallet_utxo")),
        "unregistered reducer's checkpoint must survive a subset commit")
      assert(CheckpointWindow.latest(after("block_summary")).get.slot
        == more.last.slot)

      // a rollback issued by the subset runner trims EVERY table (using
      // the store's persisted slot columns, e.g. utxo_spent.spentSlot)
      // and rewinds EVERY stored checkpoint — a stale-high checkpoint
      // for an unregistered reducer would skip replaying deleted data
      val cut = blocks(5)
      light.applyRollback(Point(cut.hash, cut.slot), Exclusive)
      val rolled = store.checkpoints
      reducers.foreach { r =>
        assert(CheckpointWindow.latest(rolled(r.name))
          .forall(_.slot <= cut.slot),
          s"${r.name} checkpoint must rewind with the data")
      }
      val utxoDefs = reducers(2).tables
      assert(store.read("utxo_spent", utxoDefs(1).schema)
        .filter(org.apache.spark.sql.functions.col("spentSlot") > cut.slot)
        .count() == 0, "non-default slot column must be honored")
    }

    test(s"[$label] empty-commit deferral + crash resume (T4/T9/T10)") {
      val blocks = ChainGen.generate(10, seed = 3L)
      val root = tmpDir(s"resume-$label")
      val store = mkStore(root)
      // watched address that never appears → every commit empty → deferred
      val r1 = Seq(new WalletUtxoReducer(Map("addrff" -> "nobody")))
      new GraphRunner(spark, store, r1, batchSize = 3)
        .processEvents(blocks.take(6).map(RollForward.apply))
      assert(store.batchId == -1L, "empty batches must not commit")
      assert(store.checkpoints.isEmpty)

      // crash-resume on a real run: process a prefix, then resume the
      // full chain on a fresh runner — rows must converge without dupes
      val store2 = mkStore(tmpDir(s"resume2-$label"))
      new GraphRunner(spark, store2, reducers, batchSize = 4)
        .processEvents(blocks.take(7).map(RollForward.apply))
      val runner3 = new GraphRunner(spark, store2, reducers, batchSize = 4)
      runner3.resume(blocks.map(RollForward.apply))
      assert(store2.read("blocks", reducers.head.tables.head.schema).count()
        == blocks.size)
      assert(store2.read("blocks", reducers.head.tables.head.schema)
        .select("hash").distinct().count() == blocks.size)
    }
  }

  test("jdbc-derby: a commit that fails mid-transaction leaves no rows, tables or marker behind") {
    val sp = spark
    import sp.implicits._
    val root = tmpDir("atomic-jdbc")
    val store = new JdbcStore(root, spark)
    def rows(slot: Long, valueCol: String = "v") =
      (Seq((slot, "x")).toDF("slot", valueCol), "slot")
    val schema = rows(0L)._1.schema
    def slots(t: String) =
      store.read(t, schema).collect().map(_.getLong(0)).sorted.toSeq
    assert(store.commit(0L, Map("kept_t" -> rows(1L)), Map.empty))
    // batch 1 inserts into the existing table, creates and fills a new
    // one, then fails on the third table's hostile column name — all
    // inside the one commit transaction
    val failing = Map("kept_t" -> rows(2L), "new_t" -> rows(2L),
      "bad_t" -> rows(2L, """v" CASCADE --"""))
    intercept[IllegalArgumentException] {
      store.commit(1L, failing, Map("r" -> Seq(Point("h2", 2L))))
    }
    assert(store.batchId == 0L)
    assert(store.checkpoints.isEmpty)
    assert(slots("kept_t") == Seq(1L))
    assert(slots("new_t").isEmpty)
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$root/derby")
    try {
      val rs = c.getMetaData.getTables(null, null, "new_t", Array("TABLE"))
      try assert(!rs.next(), "rolled-back CREATE TABLE survived")
      finally rs.close()
    } finally c.close()
    // the same batch id with valid appends commits: the existence caches
    // forgot new_t, so it is created again rather than assumed present
    assert(store.commit(1L, failing - "bad_t", Map("r" -> Seq(Point("h2", 2L)))))
    assert(store.batchId == 1L)
    assert(slots("kept_t") == Seq(1L, 2L))
    assert(slots("new_t") == Seq(2L))
    assert(store.checkpoints.keySet == Set("r"))
  }

  test("jdbc-derby: hostile SQL identifiers fail loudly instead of reaching DDL/DML") {
    val sp = spark
    import sp.implicits._
    val store = new JdbcStore(tmpDir("hostile-jdbc"), spark)
    val df = Seq((1L, "x")).toDF("slot", "v")
    intercept[IllegalArgumentException] {
      store.commit(0L,
        Map("""t"; DROP TABLE "graft_commits"; --""" -> (df, "slot")),
        Map.empty)
    }
    val hostileCol = Seq((1L, "x")).toDF("slot", """v" CASCADE --""")
    intercept[IllegalArgumentException] {
      store.commit(0L, Map("ok_table" -> (hostileCol, "slot")), Map.empty)
    }
  }
}
