package graft.tools

import graft.core._
import graft.operators._
import graft.sources.ChainGen
import org.apache.spark.sql.SparkSession

/** Chain-engine throughput: sustained block-events/s through the full
  * reducer graph (the BASELINE.md translation of the reference's
  * ~1,013 blk/s batch-commit sync rate and ≥3,000 envelopes/s gate).
  * Usage: ChainPerf [nBlocks] [maxRollbackSlots] [batchSize...] [jdbc]
  * ("jdbc" anywhere in args switches the store backend to embedded Derby —
  * the closest analogue to the reference's Postgres-backed 1,013 blk/s)
  *
  * maxRollbackSlots defaults to 300 (vs the engine default 10,000): the
  * synthetic chain advances ~2 slots/block, so a realistic rollback
  * horizon relative to chain length is needed for the live-UTxO
  * compaction filter to engage — on a real chain the 10,000-slot guard
  * is a tiny fraction of history, here it would exceed the whole run.
  */
object ChainPerf {
  def main(args: Array[String]): Unit = {
    val useJdbc = args.contains("jdbc")
    val light = args.contains("light") // framework floor: header reducer only
    val a = args.filterNot(x => x == "jdbc" || x == "light")
    val nBlocks = if (a.nonEmpty) a(0).toInt else 4000
    val maxRb = if (a.length > 1) a(1).toLong else 300L
    val batchSizes = if (a.length > 2) a.drop(2).map(_.toInt).toSeq
      else Seq(500, 2000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // engine shuffle-width experiments (see GraphRunner.withEngineShuffle)
      .config("graft.engine.shufflePartitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUF", "8"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val blocks = ChainGen.generate(nBlocks)
    val events = blocks.map(RollForward.apply)
    def reducers: Seq[ChainReducer] =
      if (light) Seq(new BlockSummaryReducer)
      else ReducerGraphs.default(ChainGen.Watched)
    // warmup: JIT + codegen on a small prefix, against the SAME backend
    // (the two store modes produce different plan shapes)
    locally {
      val wroot = java.nio.file.Files.createTempDirectory("perfw").toString
      try {
        val wstore: Store =
          if (useJdbc) new JdbcStore(wroot, spark) else new StateStore(wroot, spark)
        val w = new GraphRunner(spark, wstore, reducers, batchSize = 100)
        w.processEvents(events.take(200))
      } finally graft.queries.Scratch.deleteTree(wroot)
    }
    // median-of-N (default 3): ChainPerf run-to-run spread spans ~2×, so
    // single-shot numbers are not comparable round-over-round
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    batchSizes.foreach { bs =>
      val backend = (if (useJdbc) "jdbc" else "segments") +
        (if (light) "-light" else "")
      val runs = (1 to reps).map { rep =>
        val root = java.nio.file.Files.createTempDirectory(s"perf$bs").toString
        try {
        val store: Store =
          if (useJdbc) new JdbcStore(root, spark) else new StateStore(root, spark)
        val rs = reducers
        val tel = new graft.streaming.Telemetry(
          rs.map(r => r.name -> r.dependsOn).toMap)
        val runner = new GraphRunner(spark, store, rs, batchSize = bs,
          maxRollbackSlots = maxRb, telemetry = Some(tel))
        // halves: per-batch flatness check — secondHalf/firstHalf ≈ 1 means
        // state reads are bounded (VERDICT r1 "What's wrong #3")
        val half = events.size / 2
        val t0 = System.nanoTime()
        runner.processEvents(events.take(half))
        val t1 = System.nanoTime()
        runner.processEvents(events.drop(half))
        val t2 = System.nanoTime()
        val dt = (t2 - t0) / 1e9
        val ratio = (t2 - t1).toDouble / math.max(1, t1 - t0)
        println(f"[chainperf]  rep$rep batchSize=$bs backend=$backend " +
          f"wall=$dt%.1fs rate=${nBlocks / dt}%.0f blk/s half2/half1=$ratio%.2f")
        tel.snapshot.foreach(p =>
          println(f"[chainperf]   ${p.reducer}%-20s meanWrite=${p.meanBatchSec}%.3fs over ${p.batches} batches"))
        (dt, ratio)
        // each rep's store is a full nBlocks ingest — left behind, the
        // per-round perf workflow accumulates gigabytes in /tmp until
        // a later bench dies on a full disk (r07 review)
        } finally graft.queries.Scratch.deleteTree(root)
      }
      val dts = runs.map(_._1).sorted
      val ratios = runs.map(_._2).sorted
      val (dt, ratio) = (dts(dts.size / 2), ratios(ratios.size / 2))
      println(f"[chainperf] blocks=$nBlocks batchSize=$bs maxRb=$maxRb " +
        f"backend=$backend MEDIAN-of-$reps wall=$dt%.1fs " +
        f"rate=${nBlocks / dt}%.0f blk/s half2/half1=$ratio%.2f")
    }
    spark.stop()
  }
}
