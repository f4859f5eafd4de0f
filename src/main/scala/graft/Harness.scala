package graft

import org.apache.spark.sql.SparkSession

/** Shared measurement-harness discipline, one spelling for every main:
  * the session, the settle between executions, the host probes and the
  * entry filter. A fix to any of them (e.g. the blocking unpersist in
  * `settle`) reaches Bench, Verify and every tool at once, so the tools
  * never measure under a different discipline than the bench.
  */
object Harness {

  /** Engine-level join-strategy tuning shared by every session (ONE
    * spelling, so correctness always gates exactly the plans the bench
    * times) — the optimization guide's §3.1/§9 baseline: let the
    * planner pick a shuffled-hash join when its size conditions are
    * met (`preferSortMergeJoin=false`), and let AQE rewrite a planned
    * sort-merge join to shuffled-hash at runtime when every
    * post-shuffle partition's build side fits 64 MB — skipping both
    * sort passes. A QueryProf A/B at sf0.1 measures ~5–10% on the
    * SMJ-carrying entries (q79 2.40→2.09, q70 1.77→1.67, q94
    * 1.24→1.00 median-of-reps), flat elsewhere. Production posture:
    * 64 MB per-partition build side is safe at ≥ 2 GB executors and is
    * the knob the guide recommends sizing to executor memory;
    * `SPARK_GRAFT_SHJ=off` restores sort-merge-only planning for
    * comparison runs on either harness.
    */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    if (sys.env.get("SPARK_GRAFT_SHJ").contains("off")) b
    else b
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "64m")

  /** The session every main runs under: `local[SPARK_GRAFT_CPUS]`
    * (default 32) with the shuffle width equal to the core count, UTC,
    * no UI, [[tuned]] joins — and the [[Ledger]] installed, so every
    * tool reports its legs. (`tuned` alone installs nothing; embedders
    * that build their own session keep their listeners to themselves.)
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    Ledger.install(spark)
    spark
  }

  /** Per-execution cleanup, run OUTSIDE timed regions: a rep must not
    * inherit the previous execution's localCheckpoint-pinned scratch
    * RDDs (old-gen pressure that surfaces as single-rep tails), nor
    * its uncollected garbage. blocking=true: async removal would
    * overlap the next timed rep.
    */
  def settle(spark: SparkSession, blocking: Boolean = true): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = blocking))
    spark.catalog.clearCache()
    // gc only for the TIMED harnesses (blocking mode): an untimed tool
    // like Verify wants the cheap non-blocking release, not a full gc
    // per entry
    if (blocking) System.gc()
  }

  /** Fixed-work host calibration — a deterministic CPU+shuffle
    * micro-task over GENERATED input (spark.range → 16-deep xxhash64
    * chain → 64Ki-key hash aggregate → noop sink): no files, no SF
    * dependence, no data skew, identical work every host, every round.
    *
    * Purpose: documented 2–2.5× same-commit host swings
    * between rounds have made every cross-round total comparison cost a
    * same-day A/B rebuild of the previous round's commit. Dividing any
    * two rounds' bench totals by their calib medians normalizes out
    * host speed without rebuilding old commits. The task is sized to
    * ~1 s on the reference harness — long enough that scheduler jitter
    * is amortized, short enough to be free in the bench budget.
    *
    * The modulo keeps per-key sums far from Long overflow (ANSI mode
    * throws on wrap); the hash chain keeps the CPU leg inside
    * whole-stage codegen like the catalog's own hot loops.
    */
  def calibrate(spark: SparkSession, reps: Int = 5): (Double, Seq[Double]) = {
    calibOnce(spark) // warmup: codegen + JIT, same as every bench entry
    settle(spark)
    val ts = (1 to reps).map { _ => val t = calibOnce(spark); settle(spark); t }
    (median(ts), ts)
  }

  /** One timed run of the calibration micro-task. Exposed for the
    * bench's INTERLEAVED probes: a start-of-run median
    * cannot attribute intra-run host drift (one driver run's calib
    * reps spread 0.81–1.87 within ONE run), so Bench re-probes every
    * ~25 queries and at the end — by then the task is JITted, so a
    * single rep per probe point is comparable to the start median's
    * post-warmup reps.
    */
  def calibOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 24, 1L, 32)
      .selectExpr(
        (1 to 16).foldLeft("id")((e, _) => s"xxhash64($e)") + " AS h")
      .selectExpr("h % 65536 AS k", "h % 1000 AS v")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v").as("s"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Scheduler-latency probe: the CPU+shuffle calib
    * task cannot attribute JOB-LAUNCH overhead — iterative entries
    * (connected-components loops, gradient-descent trainers) launch
    * tens of near-empty jobs whose cost is scheduler round-trip, not
    * compute, so they normalize badly against a CPU probe on a host
    * whose scheduling (not arithmetic) degraded. This probe times
    * `SchedProbeJobs` minimal 32-task jobs (the bench's partition
    * count, so per-job shape matches an iteration's launch) and
    * returns the PER-JOB seconds. An entry's scheduler floor is then
    * `jobs × schedProbe` in the same run's units.
    */
  final val SchedProbeJobs = 16

  def schedOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    (1 to SchedProbeJobs).foreach { _ =>
      spark.range(0L, 32L, 1L, 32)
        .write.format("noop").mode("overwrite").save()
    }
    (System.nanoTime() - t0) / 1e9 / SchedProbeJobs
  }

  /** True median: averages the two middle elements for an even count
    * (`sorted(n/2)` alone is the UPPER middle, biased
    * high for even reps).
    */
  def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** SPARK_GRAFT_ONLY=q31,q37 restricts to matching name prefixes
    * (local iteration); unset = everything.
    */
  def onlyFilter(names: Seq[String]): Seq[String] = {
    // an EMPTY value (wrapper scripts exporting SPARK_GRAFT_ONLY="$X"
    // with X unset) means "no filter", not "zero queries" — a silent
    // empty selection would zero a bench or correctness run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    names.filter(n => only.forall(_.exists(n.startsWith)))
  }
}
