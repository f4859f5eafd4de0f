package graft

import graft.core._
import graft.operators._
import graft.sources.ChainGen
import scala.util.Random

/** Randomized reorg fuzz: seeded random interleavings of chain
  * extensions and rollbacks (varying depth, landing at arbitrary batch
  * boundaries), asserting the engine's full snapshot history equals the
  * imperative oracle folded over the FINAL canonical chain — the §5.3
  * oracle discipline generalized from fixed scenarios to generated ones.
  * Every sequence is deterministic per seed.
  */
class ReorgFuzzSpec extends SparkSpec {

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

  private def backends: Seq[(String, String => Store)] = Seq(
    "segments" -> (root => new StateStore(root, spark, maxSegments = 4)),
    // compact aggressively so rollbacks land on compacted live sets
    "jdbc" -> { root =>
      spark.conf.set("graft.jdbc.compactEvery", "2")
      try new JdbcStore(root, spark)
      finally spark.conf.unset("graft.jdbc.compactEvery")
    })

  // segment-log backend fuzzed on all seeds; Derby on two (runtime bound)
  private val plan = Seq((1, "segments"), (7, "segments"), (23, "segments"),
    (7, "jdbc"), (23, "jdbc"))

  plan.foreach { case (seed, backend) =>
    test(s"random extend/rollback interleavings converge with the oracle (seed=$seed, $backend)") {
      val rnd = new Random(seed)
      var canonical = ChainGen.generate(8, seed, tag = "s0")
      val events = scala.collection.mutable.ArrayBuffer[BlockEvent](
        canonical.map(RollForward.apply): _*)
      (1 to 5).foreach { segIdx =>
        val ext = ChainGen.generate(3 + rnd.nextInt(5), seed * 100L + segIdx,
          startSlot = canonical.last.slot, tag = s"s$segIdx")
        events ++= ext.map(RollForward.apply)
        canonical = canonical ++ ext
        if (rnd.nextBoolean()) {
          val depth = 1 + rnd.nextInt(math.min(5, canonical.size - 2))
          val cut = canonical(canonical.size - depth - 1)
          events += RollBack(Point(cut.hash, cut.slot),
            if (rnd.nextBoolean()) Exclusive else Inclusive)
          // Inclusive destroys the cut point itself too
          canonical =
            if (events.last.asInstanceOf[RollBack].mode == Exclusive)
              canonical.take(canonical.size - depth)
            else canonical.take(canonical.size - depth - 1)
        }
      }
      val batchSize = Seq(3, 7, 20)(rnd.nextInt(3))
      val store = backends.toMap.apply(backend)(tmpDir(s"fuzz$seed-$backend"))
      val runner = new GraphRunner(spark, store, reducers,
        batchSize = batchSize, maxRollbackSlots = 500)
      runner.processEvents(events)
      val oracle = ChainGen.balanceOracle(canonical)
      val got = snapshotState(store)
      assert(got.size == oracle.size,
        s"seed=$seed batch=$batchSize: ${got.size} snapshots vs oracle ${oracle.size}")
      oracle.foreach { case (slot, bal) =>
        assert(got(slot) == bal,
          s"seed=$seed batch=$batchSize slot=$slot: ${got.get(slot)} vs $bal")
      }
    }
  }
}
