package graft.perfbench

import graft.Harness
import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 10,
    trace: Boolean = false,
    smoke: Boolean = false,
    out: String = "record.json",
    launchedMs: Long = System.currentTimeMillis(),
    injectClose: Option[Int] = None,
    digestOnly: Boolean = false,
    warm: Option[Int] = None,
    work: Option[Int] = None)

object Args {
  def parse(argv: Array[String]): Args =
    argv.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toInt)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--size", v)) => a.copy(smoke = v == "smoke")
      case (a, Array("--out", v)) => a.copy(out = v)
      case (a, Array("--launched-ms", v)) => a.copy(launchedMs = v.toLong)
      case (a, Array("--inject-close", v)) => a.copy(injectClose = Some(v.toInt))
      case (a, Array("--digest-only", v)) => a.copy(digestOnly = v == "1")
      case (a, Array("--warm", v)) => a.copy(warm = Some(v.toInt))
      case (a, Array("--work", v)) => a.copy(work = Some(v.toInt))
      case (_, other) =>
        throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
}

/** The timed window: wall-clock bounds (for listener events) and
  * nanoTime bounds (for spans and durations).
  */
final case class Window(startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What a workload reports back.
  *
  * @param work      work completed in the window (blocks, docs)
  * @param latencyMs one latency sample per unit the workload times
  * @param curve     (seconds since window start, cumulative work) at each op end
  * @param layers    per-layer metrics the workload measured itself
  * @param record    run-record extras (sizes, counts)
  */
final case class Outcome(
    work: Double,
    win: Window,
    latencyMs: Seq[Double],
    curve: Seq[(Double, Double)],
    attempted: Long,
    failed: Long,
    checks: Map[String, Boolean],
    layers: Map[String, Double],
    record: Map[String, Double] = Map.empty,
    digests: Map[String, String] = Map.empty,
    files: Map[String, String] = Map.empty)

/** Everything a workload needs. Time spent in `benchOnly` before the
  * window (input generation) is taken out of `setup_s`.
  */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer,
    val dir: String) {
  private var benchOnlyNs = 0L
  /** JVM launch → first timed op, less bench-only work; set by `startWindow`. */
  var setupS: Double = Double.NaN

  def benchOnly[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally benchOnlyNs += System.nanoTime() - t0
  }

  def benchOnlySeconds: Double = benchOnlyNs / 1e9

  /** (warm-up, window) work: smoke size, the workload's own sizing, or
    * the `--warm` / `--work` overrides used to measure settling.
    */
  def sized(smoke: (Int, Int), full: (Int, Int)): (Int, Int) = {
    val (w, n) = if (args.smoke) smoke else full
    (args.warm.getOrElse(w), args.work.getOrElse(n))
  }

  private var openedMs = 0L
  private var openedNs = 0L

  /** Opens the timed window: the first timed op starts now. */
  def startWindow(): Unit = {
    openedMs = System.currentTimeMillis()
    openedNs = System.nanoTime()
    setupS = (openedMs - args.launchedMs) / 1000.0 - benchOnlySeconds
  }

  def windowStarted: Boolean = openedNs != 0L

  def endWindow(): Window =
    Window(openedMs, System.currentTimeMillis(), openedNs, System.nanoTime())

  def window(f: => Unit): Window = {
    startWindow()
    f
    endWindow()
  }
}

object Main {
  val Workloads = Seq("chain-catchup", "doc-stream")

  def session(dir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = Harness.tuned(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$dir/spark-local")
        .config("spark.sql.warehouse.dir", s"$dir/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        if (argv.sameElements(Seq("--train"))) train() else run(Args.parse(argv))
        0
      }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  /** One smoke-size run of every workload in this JVM: the classes the
    * build records in its class-data-sharing archive.
    */
  def train(): Unit =
    Workloads.foreach(w => run(Args(workload = w, smoke = true, out = s"train-$w.json")))

  def run(a: Args): Unit = {
    require(Workloads.contains(a.workload), s"unknown workload '${a.workload}'")
    val dir = new java.io.File(".").getCanonicalPath
    if (a.digestOnly) { Json.write(a.out, Json.obj(Inputs.digests(a))); return }
    val spark = session(dir)
    val sessionS = (System.currentTimeMillis() - a.launchedMs) / 1000.0
    val tracer = new Tracer(a.trace)
    val stages = if (a.trace) Some(new StageLedger) else None
    val streams = if (a.trace) Some(new StreamLedger) else None
    stages.foreach(spark.sparkContext.addSparkListener)
    streams.foreach(spark.streams.addListener)
    val ctx = new Ctx(spark, a, tracer, dir)
    val o = a.workload match {
      case "chain-catchup" => ChainCatchup.run(ctx)
      case "doc-stream" => DocStream.run(ctx, streams)
    }
    val win = o.win
    val sparkLayers = stages.map { l =>
      l.drain(spark)
      l.metrics(win.startMs, win.endMs, o.attempted)
    }.getOrElse(Map.empty)
    val probeStart = System.nanoTime()
    val host = HostProbe.run(spark)
    val probeS = (System.nanoTime() - probeStart) / 1e9
    val listenerNs = stages.map(_.listenerNs.get).getOrElse(0L) +
      streams.map(_.listenerNs.get).getOrElse(0L)
    val overhead =
      if (!a.trace) 0.0
      else {
        val inWindow = tracer.all.count(s => s.start >= win.startNs && s.end <= win.endNs)
        (inWindow * Tracer.spanCost() + listenerNs / 1e9) / win.seconds
      }
    if (a.trace) tracer.write(s"$dir/spans.jsonl")

    val (p50, beyond50) = Stats.percentile(o.latencyMs, 0.5)
    val (p90, beyond90) = Stats.percentile(o.latencyMs, 0.9)
    val (first, last) = Stats.fifths(o.curve)
    val e2e = Map(
      "setup_s" -> ctx.setupS,
      "throughput" -> o.work / win.seconds,
      "latency_p50_ms" -> p50)
    val layers = o.layers ++ sparkLayers ++ Map(
      "host.calib_s" -> host("calib_s"),
      "host.sched_ms" -> host("sched_ms"),
      "trace.overhead_share" -> overhead)
    Json.write(a.out, Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> a.trace.toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "checks" -> Json.obj(o.checks.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.toString }),
      "end_to_end" -> Json.nums(e2e),
      "per_layer" -> Json.nums(layers),
      "self_s" -> Json.nums(tracer.selfSeconds),
      "run" -> Json.nums(o.record ++ Map(
        "window_s" -> win.seconds,
        "work" -> o.work,
        "latency_p90_ms" -> p90,
        "latency_samples" -> o.latencyMs.size.toDouble,
        "latency_p50_beyond" -> beyond50.toDouble,
        "latency_p90_beyond" -> beyond90.toDouble,
        "rate_first_fifth" -> first,
        "rate_last_fifth" -> last,
        "settle_ratio" -> last / first,
        "bench_only_s" -> ctx.benchOnlySeconds,
        "session_s" -> sessionS,
        "host_calib_s" -> host("calib_s"),
        "host_sched_ms" -> host("sched_ms"),
        "host_probe_s" -> probeS,
        "after_window_s" -> (System.nanoTime() - win.endNs) / 1e9)),
      // every sample where they are few (doc-stream's deltas)
      "latency_ms" -> (if (o.latencyMs.size > 100) "[]"
        else o.latencyMs.map(Json.num).mkString("[", ",", "]")),
      "curve" -> o.curve.map { case (t, w) => s"[${Json.num(t)},${Json.num(w)}]" }
        .mkString("[", ",", "]"),
      "digests" -> Json.obj(o.digests.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "files" -> Json.obj(o.files.toSeq.map { case (k, v) => k -> Json.str(v) }))))
    spark.stop()
  }
}

/** Host drift probe, taken after the window: a fixed single-thread CPU
  * loop (median of three) and the scheduler's per-job latency from
  * [[Harness.schedOnce]].
  */
object HostProbe {
  private def cpuLoop(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("") // keeps the loop from being optimized away
    (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession): Map[String, Double] = {
    val calib = Stats.median(Seq(cpuLoop(), cpuLoop(), cpuLoop()))
    Map("calib_s" -> calib, "sched_ms" -> Harness.schedOnce(spark) * 1000)
  }
}

/** Minimal JSON writer for the run record (flat objects of numbers and
  * strings; keys are plain identifiers).
  */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
  def write(path: String, s: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(s) finally w.close()
  }
}

/** Input digests for the determinism self-test: the chain's wire bytes,
  * the batch legs' JSONL and the doc-stream deltas of one seed.
  */
object Inputs {
  def digests(a: Args): Seq[(String, String)] = {
    val chain = ChainScript.build(1200, a.seed)
    Seq(
      "chain_wire" -> Json.str(chain.wireDigest),
      "jsonl" -> Json.str(DocCorpus.digest(DocBatch.corpus(a.seed, 600)._1)),
      "deltas" -> Json.str(DocCorpus.digest(
        DocStream.deltas(a.seed, 4, 50).flatten.map(DocCorpus.json))))
  }
}
