package graft

import graft.core._
import graft.operators._
import graft.sources.ChainGen

/** Segment compaction: many small commits fold into merged segments
  * without changing any observable state, and retraction still works
  * when the reorg range straddles a compacted segment.
  */
class CompactionSpec extends SparkSpec {

  private def reducers = Seq(
    new BlockSummaryReducer,
    new WalletUtxoReducer(ChainGen.Watched),
    new BalanceSnapshotReducer(ChainGen.Watched))

  test("compacted store equals uncompacted store; rollback across merged segment") {
    val blocks = ChainGen.generate(36, seed = 5L)
    val oracle = ChainGen.balanceOracle(blocks)

    // tiny maxSegments → compaction every couple of commits
    val store = new StateStore(tmpDir("compact"), spark, maxSegments = 3)
    val runner = new GraphRunner(spark, store, reducers, batchSize = 3)
    runner.processEvents(blocks.map(RollForward.apply))

    val m = store.manifest
    assert(m.tables("blocks").size <= 3 + 1,
      s"blocks segments not compacted: ${m.tables("blocks").size}")

    val snapSchema = reducers(2).tables.head.schema
    def snaps() = store.read("balance_snapshots", snapSchema)
      .collect().groupBy(_.getLong(3))
      .map { case (slot, rs) => slot -> rs.map(r => r.getString(1) -> r.getLong(4)).toMap }
    assert(snaps().size == oracle.size)
    oracle.foreach { case (slot, bal) => assert(snaps()(slot) == bal) }

    // rollback deep into the merged bulk (block 10 of 36) — the straddle
    // rewrite must filter the compacted segment correctly
    val cut = blocks(9)
    runner.applyRollback(Point(cut.hash, cut.slot), Exclusive)
    assert(snaps().size == 10)
    oracle.take(10).foreach { case (slot, bal) => assert(snaps()(slot) == bal) }

    // and replay back to the tip
    runner.processEvents(blocks.drop(10).map(RollForward.apply))
    oracle.foreach { case (slot, bal) => assert(snaps()(slot) == bal) }
  }

  test("jdbc backend: in-database live-set compaction bounds BOTH utxo " +
    "tables; state and rollback survive") {
    val blocks = ChainGen.generate(60, seed = 7L)
    val oracle = ChainGen.balanceOracle(blocks)
    // compact every 2 commits; tight rollback horizon so the frontier
    // advances and finalized spends become droppable
    spark.conf.set("graft.jdbc.compactEvery", "2")
    try {
      val store = new JdbcStore(tmpDir("jdbc-compact"), spark)
      val runner = new GraphRunner(spark, store, reducers, batchSize = 5,
        maxRollbackSlots = 20L)
      runner.processEvents(blocks.map(RollForward.apply))

      val utxoDefs = reducers(1).tables
      val kept = store.read("utxo_created", utxoDefs.head.schema).count()
      val createdSet = blocks.flatMap(b => b.transactions.flatMap(tx =>
        tx.outputs.zipWithIndex.collect {
          case (o, i) if ChainGen.Watched.contains(o.address) =>
            (tx.txHash, i)
        })).toSet
      val totalCreated = createdSet.size
      val totalSpent = blocks.flatMap(_.transactions).flatMap(_.inputs)
        .count(in => createdSet.contains((in.txId, in.index)))
      assert(totalSpent > 0, "chain must actually spend watched outputs")
      assert(kept < totalCreated,
        s"compaction dropped nothing: kept=$kept of $totalCreated")
      // the tombstone table is live-set-bounded too (DropUnmatched):
      // final spends whose created pair is gone must not accumulate
      val keptSpent = store.read("utxo_spent", utxoDefs(1).schema).count()
      assert(keptSpent < totalSpent,
        s"spent log not compacted: kept=$keptSpent of $totalSpent")

      val snapSchema = reducers(2).tables.head.schema
      def snaps() = store.read("balance_snapshots", snapSchema)
        .collect().groupBy(_.getLong(3))
        .map { case (slot, rs) =>
          slot -> rs.map(r => r.getString(1) -> r.getLong(4)).toMap }
      assert(snaps().size == oracle.size)
      oracle.foreach { case (slot, bal) => assert(snaps()(slot) == bal) }

      // shallow rollback (within the horizon) + replay converges
      val cut = blocks(55)
      runner.applyRollback(Point(cut.hash, cut.slot), Exclusive)
      runner.processEvents(blocks.drop(56).map(RollForward.apply))
      oracle.foreach { case (slot, bal) => assert(snaps()(slot) == bal) }
    } finally spark.conf.unset("graft.jdbc.compactEvery")
  }

  test("jdbc backend: a compaction commit that rolls back leaves its key index to be created again") {
    val sp = spark
    import sp.implicits._
    spark.conf.set("graft.jdbc.compactEvery", "2")
    try {
      val root = tmpDir("jdbc-keyix")
      val store = new JdbcStore(root, spark)
      def rows(slot: Long) = (Seq((slot, slot * 10)).toDF("slot", "k"), "slot")
      val compactors = Map("target_t" -> BoundCompactor(rows(0L)._1.schema,
        identity, SqlCompaction("against_t", Seq("k"), "slot", 0L,
          dropMatched = true)))
      assert(store.commit(1L,
        Map("target_t" -> rows(1L), "against_t" -> rows(1L)), Map.empty))
      // batch 2 compacts: the key index is created inside the commit
      // transaction, then the checkpoint insert overflows VARCHAR(256)
      // and the whole transaction — index included — rolls back
      intercept[java.sql.SQLException] {
        store.commit(2L, Map("target_t" -> rows(2L)),
          Map("r" -> Seq(Point("h" * 300, 2L))), compactors)
      }
      assert(store.commit(2L, Map("target_t" -> rows(2L)),
        Map("r" -> Seq(Point("h2", 2L))), compactors))
      val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$root/derby")
      try {
        val rs = c.getMetaData.getIndexInfo(null, null, "against_t", false, false)
        val names = Iterator.continually(rs).takeWhile(_.next())
          .map(_.getString("INDEX_NAME")).toSet
        rs.close()
        assert(names.contains("ix_against_t_cmpkey"),
          s"compaction key index missing after the retried commit: $names")
      } finally c.close()
    } finally spark.conf.unset("graft.jdbc.compactEvery")
  }

  test("jdbc backend: null values commit and read back on the driver path") {
    // Derby rejects setNull(Types.NULL) — the null path must map real
    // JDBC type codes (a reducer output with any null column otherwise
    // rolls back the whole batch)
    val sp = spark
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("slot", LongType),
      StructField("s", StringType),
      StructField("n", LongType),
      StructField("d", DoubleType),
      StructField("b", BinaryType)))
    val df = sp.createDataFrame(java.util.Arrays.asList(
      SRow(1L, null, null, null, null),
      SRow(2L, "x", 7L, 1.5, Array[Byte](1, 2))), schema)
    val store = new JdbcStore(tmpDir("jdbc-nulls"), spark)
    assert(store.commit(0L, Map("nullable_t" -> (df, "slot")), Map.empty))
    val back = store.read("nullable_t", schema).collect()
      .sortBy(_.getLong(0))
    assert(back.length == 2)
    assert(back(0).isNullAt(1) && back(0).isNullAt(2) && back(0).isNullAt(3)
      && back(0).isNullAt(4))
    assert(back(1).getString(1) == "x" && back(1).getLong(2) == 7L)
  }
}
