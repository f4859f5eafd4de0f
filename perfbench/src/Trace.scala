package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** One recorded call into a layer. Times are `System.nanoTime`. */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Long, val start: Long) {
  @volatile var end: Long = 0L
}

/** In-memory span recorder. With `on = false` every `span` call is a
  * plain call of its body: untraced runs pay one branch per hook.
  *
  * The parent of a span is the innermost open span of the same thread;
  * `op` is the benchmark operation (commit, pass, delta) it belongs to.
  */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[Span]
  private val opId = new AtomicLong(0L)

  def op: Long = opId.get
  def nextOp(): Long = opId.incrementAndGet()

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val parent = open.get
      val s = new Span(ids.incrementAndGet(), name,
        if (parent == null) 0 else parent.id, opId.get, System.nanoTime())
      open.set(s)
      try f
      finally {
        s.end = System.nanoTime()
        open.set(parent)
        spans.add(s)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: duration minus the part of the span's
    * interval that its children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.iterator.map { s =>
        val covered = Intervals.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.end - s.start - covered).toDouble / 1e9
      }.sum
    }
  }

  /** Spans as JSON lines, written when the run ends. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Tracer {
  /** Cost of one span (s), measured on a throwaway recorder. */
  def spanCost(): Double = {
    val t = new Tracer(true)
    (1 to 20000).foreach(_ => t.span("warm")(()))
    val t2 = new Tracer(true)
    val n = 100000
    val t0 = System.nanoTime()
    (1 to n).foreach(_ => t2.span("x")(()))
    (System.nanoTime() - t0) / 1e9 / n
  }
}

object Intervals {
  /** Total length of the union of half-open intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Percentiles as the run record reports them: the value at rank
  * ceil(q·n) of the sorted sample, plus how many values lie beyond it.
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def percentile(xs: Seq[Double], q: Double): (Double, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (Double.NaN, 0)
    else {
      val i = math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1))
      (s(i), s.size - 1 - i)
    }
  }

  /** Work rate over the first and the last fifth of the work, from the
    * cumulative work curve `(seconds since window start, work done)`,
    * interpolated between op completions.
    */
  def fifths(curve: Seq[(Double, Double)]): (Double, Double) = {
    val pts = (0.0, 0.0) +: curve
    val total = pts.last._2
    def timeAt(w: Double): Double = {
      val i = pts.indexWhere(_._2 >= w)
      if (i <= 0) 0.0
      else {
        val (t0, w0) = pts(i - 1)
        val (t1, w1) = pts(i)
        if (w1 == w0) t1 else t0 + (t1 - t0) * (w - w0) / (w1 - w0)
      }
    }
    val fifth = total / 5
    val first = fifth / timeAt(fifth)
    val last = fifth / (pts.last._1 - timeAt(total - fifth))
    (first, last)
  }
}

/** Spark job/stage/task accounting for the traced run. Events are kept
  * with their times and filtered to the timed window afterwards; the
  * time spent inside the callbacks is the listener's share of the
  * tracing overhead.
  */
final class StageLedger extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  final case class TaskRow(stage: Int, finish: Long, dur: Long, run: Long,
      cpuNs: Long, gc: Long, shW: Long, shR: Long, spill: Long, failed: Boolean)

  val jobs = new ConcurrentLinkedQueue[(Long, String)]() // (start ms, group)
  val stages = new ConcurrentLinkedQueue[(Int, Long, Long)]() // (id, submit, done)
  val tasks = new ConcurrentLinkedQueue[TaskRow]()
  val listenerNs = new AtomicLong(0L)
  private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val markerSeen = new java.util.concurrent.CountDownLatch(1)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally listenerNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (g == StageLedger.Marker) markerJobs.add(e.jobId)
    jobs.add((e.time, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    if (markerJobs.contains(e.jobId)) markerSeen.countDown()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime)
      stages.add((i.stageId, a, b))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val info = e.taskInfo
    val failed = e.reason != org.apache.spark.Success
    if (m == null) tasks.add(TaskRow(e.stageId, info.finishTime,
      info.duration, 0, 0, 0, 0, 0, 0, failed))
    else tasks.add(TaskRow(e.stageId, info.finishTime, info.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, failed))
  }

  /** Runs a marker job and waits until the listener bus has delivered
    * it, so every event of the window before it has been counted.
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(StageLedger.Marker, "listener drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS)
  }

  /** `spark.*` layer metrics over the window [fromMs, toMs]. */
  def metrics(fromMs: Long, toMs: Long, ops: Long): Map[String, Double] = {
    val js = jobs.asScala.filter { case (t, g) =>
      t >= fromMs && t <= toMs && g != StageLedger.Marker }
    val ss = stages.asScala.filter { case (_, a, b) => b >= fromMs && a <= toMs }
      .toSeq
    val ts = tasks.asScala.filter(t => t.finish >= fromMs && t.finish <= toMs)
      .toSeq
    val windowS = (toMs - fromMs) / 1000.0
    val busyMs = Intervals.union(ss.map { case (_, a, b) =>
      (math.max(a, fromMs), math.min(b, toMs)) })
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val d = g.map(_.dur.toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }.toSeq
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.jobs_per_op" -> js.size.toDouble / math.max(1L, ops),
      "spark.stage_busy_s" -> busyMs / 1000.0,
      "spark.driver_gap_s" -> (windowS - busyMs / 1000.0),
      "spark.executor_run_s" -> ts.map(_.run).sum / 1000.0,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gc).sum / 1000.0,
      "spark.shuffle_write_bytes" -> ts.map(_.shW).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shR).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "spark.task_failures" -> ts.count(_.failed).toDouble)
  }
}

object StageLedger {
  val Marker = "perfbench-marker"
}

/** Micro-batch accounting per named streaming query (traced run only). */
final class StreamLedger extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  final case class Batch(query: String, ms: Long, addBatch: Long,
      planning: Long, wal: Long, stateRows: Long, stateBytes: Long)

  val names = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  val listenerNs = new AtomicLong(0L)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    try {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      if (d.containsKey("addBatch")) {
        val name = Option(names.get(p.id)).getOrElse(String.valueOf(p.name))
        batches.add(Batch(name,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          dur("addBatch"), dur("queryPlanning"), dur("walCommit"),
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
      }
    } finally listenerNs.addAndGet(System.nanoTime() - t0)
  }

  /** `streaming.<query>.*` over batches that started in [fromMs, toMs];
    * state size is the last value seen.
    */
  def metrics(queries: Seq[String], fromMs: Long, toMs: Long): Map[String, Double] =
    queries.flatMap { q =>
      val all = batches.asScala.filter(_.query == q).toSeq
      val in = all.filter(b => b.ms >= fromMs && b.ms <= toMs)
      val last = all.lastOption
      Seq(
        s"streaming.$q.batches" -> in.size.toDouble,
        s"streaming.$q.add_batch_s" -> in.map(_.addBatch).sum / 1000.0,
        s"streaming.$q.planning_s" -> in.map(_.planning).sum / 1000.0,
        s"streaming.$q.wal_commit_s" -> in.map(_.wal).sum / 1000.0,
        s"streaming.$q.state_rows" -> last.map(_.stateRows).getOrElse(0L).toDouble,
        s"streaming.$q.state_bytes" -> last.map(_.stateBytes).getOrElse(0L).toDouble)
    }.toMap
}
