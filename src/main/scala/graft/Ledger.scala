package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** One leg's accounting. Jobs, stages, tasks, executions and the
  * executor metrics are EXCLUSIVE: each job belongs to the innermost leg
  * open on the thread that launched it, so the rows sum to the session.
  * `wallMs` and `driverMs` are INCLUSIVE of nested legs: the leg's own
  * windows on the driver, and the part of them no SQL execution of the
  * leg or of a nested leg covered.
  *
  *  - `entries`: times the leg was opened; `executions`: SQL executions
  *    (an action that launches no job still counts);
  *  - `runMs`/`cpuMs`/`gcMs`: executor run, CPU and GC time over its tasks;
  *  - `taskMaxMs`/`taskMedianMs`/`failedTasks`: task skew and failed
  *    attempts;
  *  - `analysisMs`/`optimizationMs`/`planningMs`: Catalyst phase times of
  *    its executions' query plans, each plan counted once;
  *  - `stageBusyMs`: the union of its stages' run intervals;
  *  - `idleMs`: time inside its SQL executions with no job running (AQE
  *    re-planning, broadcast and result handling on the driver), summed
  *    over executions, so overlapped executions can exceed the wall;
  *  - `driverMs`: time in the leg outside any SQL execution.
  */
final case class LegRow(leg: String, entries: Long, wallMs: Long,
    jobs: Long, stages: Long, tasks: Long, executions: Long,
    runMs: Long, cpuMs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    peakExecMemBytes: Long, taskMaxMs: Long, taskMedianMs: Long,
    failedTasks: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, stageBusyMs: Long, idleMs: Long, driverMs: Long) {

  def catalystMs: Long = analysisMs + optimizationMs + planningMs

  def json: String = productElementNames.zip(productIterator).map {
    case (k, v: String) => "\"" + k + "\":\"" + v.replace("\"", "'") + "\""
    case (k, v) => "\"" + k + "\":" + v
  }.mkString("{", ",", "}")
}

/** The instrumentation ledger: one `SparkListener` that keys every job,
  * stage, task and SQL execution by the LEG label open on the thread
  * that launched it, so an entry splits into its named legs from
  * recorded metrics instead of profilers that copy its subplans.
  *
  * A leg is opened with `Ledger.leg("wstats") { … }` around code that
  * already runs an action; legs nest (`q119_hard_negatives/q119_ws`). The
  * label travels as a Spark job tag, which every job's properties and
  * every `SparkListenerSQLExecutionStart` carry — so an action that
  * launches no job (a `LocalRelation` collect) is still attributed, and
  * the execution's Catalyst phase times come from the query execution
  * its end event carries. Jobs run on [[Overlap]] pool threads carry the
  * submitting thread's label.
  *
  * [[Harness.session]] installs the ledger; without an installed ledger
  * `leg` runs its body and records nothing. Read it with [[Ledger.rows]],
  * [[Ledger.take]] (rows since the last take) or [[Ledger.df]].
  */
final class Ledger private (val sc: SparkContext) extends SparkListener {

  private final class Acc {
    var entries, wallMs, jobs, stages, tasks, executions = 0L
    var runMs, cpuNs, gcMs, shR, shW, spill, peak, failed = 0L
    var analysisMs, optimizationMs, planningMs, idleMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val execSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private final class Exec(val leg: String, val start: Long) {
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = mutable.Map.empty[String, Acc]
  private val stageLegs = mutable.Map.empty[(Int, Int), String]
  private val jobs = mutable.Map.empty[Int, (Option[Long], Long)]
  private val execs = mutable.Map.empty[Long, Exec]
  // a plan executed by several actions was analysed and optimized once
  private val planned = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean]())

  private def acc(leg: String): Acc = accs.getOrElseUpdate(leg, new Acc)

  private def legOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .fold("")(t => Ledger.labelIn(t.split(',')))

  private[graft] def window(leg: String, t0: Long, t1: Long): Unit = synchronized {
    val a = acc(leg)
    a.entries += 1; a.wallMs += t1 - t0; a.windows += ((t0, t1))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc(legOf(e.properties)).jobs += 1
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs(e.jobId) = (exec, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (exec, t0) =>
      exec.flatMap(execs.get).foreach(_.jobSpans += ((t0, e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stageLegs((i.stageId, i.attemptNumber())) = legOf(e.properties)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val a = acc(stageLegs.remove((i.stageId, i.attemptNumber())).getOrElse(""))
      a.stages += 1
      for (s <- i.submissionTime; c <- i.completionTime) a.stageSpans += ((s, c))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageLegs.getOrElse((e.stageId, e.stageAttemptId), ""))
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    if (e.reason != org.apache.spark.Success) a.failed += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shR += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      a.shW += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peak = math.max(a.peak, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = new Exec(Ledger.labelIn(s.jobTags), s.time)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      execs.remove(x.executionId).foreach { ex =>
        val a = acc(ex.leg)
        a.executions += 1
        val span = (ex.start, math.max(ex.start, x.time))
        a.execSpans += span
        a.idleMs += (span._2 - span._1) -
          Ledger.covered(ex.jobSpans.toSeq, span)
        GraftSqlBridge.executionOf(x).filter(planned.add).foreach { qe =>
          val ph = qe.tracker.phases
          def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
          a.analysisMs += ms("analysis")
          a.optimizationMs += ms("optimization")
          a.planningMs += ms("planning")
        }
      }
    }
    case _ => ()
  }

  private[graft] def rows(reset: Boolean): Seq[LegRow] = {
    GraftSqlBridge.drainListeners(sc)
    synchronized {
      val out = accs.toSeq.sortBy(_._1).map { case (leg, a) =>
        val inLeg = accs.collect { case (k, b) if Ledger.within(k, leg) =>
          b.execSpans }.flatten.toSeq
        val driver = a.windows.map(w => (w._2 - w._1) -
          Ledger.covered(inLeg, w)).sum
        val ts = a.taskMs.sorted
        LegRow(leg, a.entries, a.wallMs, a.jobs, a.stages, a.tasks,
          a.executions, a.runMs, a.cpuNs / 1000000L, a.gcMs, a.shR, a.shW,
          a.spill, a.peak, ts.lastOption.getOrElse(0L),
          if (ts.isEmpty) 0L else ts(ts.size / 2), a.failed, a.analysisMs,
          a.optimizationMs, a.planningMs,
          Ledger.covered(a.stageSpans.toSeq, (Long.MinValue, Long.MaxValue)),
          a.idleMs, driver)
      }
      if (reset) accs.clear()
      out
    }
  }
}

object Ledger {
  private val TagPrefix = "graft-leg:"

  @volatile private var installed: Option[Ledger] = None

  private def live: Option[Ledger] = installed.filterNot(_.sc.isStopped)

  /** Install the ledger on the session's context, once per context. */
  def install(spark: SparkSession): Ledger = synchronized {
    live.filter(_.sc eq spark.sparkContext).getOrElse {
      val l = new Ledger(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      installed = Some(l)
      l
    }
  }

  /** Run `body` as leg `name`, nested under the thread's open leg. */
  def leg[A](name: String)(body: => A): A = live match {
    case None => body
    case Some(l) =>
      val outer = label(l.sc)
      val inner = outer.fold("")(_ + "/") + name.replace(',', ';')
      val t0 = System.currentTimeMillis()
      relabel(l.sc, outer, Some(inner))
      try body
      finally {
        relabel(l.sc, Some(inner), outer)
        l.window(inner, t0, System.currentTimeMillis())
      }
  }

  /** The leg open on this thread, if a ledger is installed. */
  private[graft] def current: Option[String] = live.flatMap(l => label(l.sc))

  /** Run `body` under exactly `leg` on this thread — for pool threads,
    * which keep the labels of the thread that created them. */
  private[graft] def under[A](leg: Option[String])(body: => A): A =
    live match {
      case Some(l) if label(l.sc) != leg =>
        val was = label(l.sc)
        relabel(l.sc, was, leg)
        try body finally relabel(l.sc, leg, was)
      case _ => body
    }

  private def on(spark: SparkSession): Option[Ledger] =
    live.filter(_.sc eq spark.sparkContext)

  /** Every leg so far, after the listener bus has drained. */
  def rows(spark: SparkSession): Seq[LegRow] =
    on(spark).fold(Seq.empty[LegRow])(_.rows(reset = false))

  /** The legs since the previous take, and start over. */
  def take(spark: SparkSession): Seq[LegRow] =
    on(spark).fold(Seq.empty[LegRow])(_.rows(reset = true))

  /** The legs as a table, queryable while the session runs. */
  def df(spark: SparkSession): DataFrame =
    spark.createDataFrame(rows(spark))

  /** `leg` itself or one of its nested legs. */
  def within(leg: String, of: String): Boolean =
    leg == of || leg.startsWith(of + "/")

  private def label(sc: SparkContext): Option[String] =
    Some(labelIn(sc.getJobTags())).filter(_.nonEmpty)

  private def relabel(sc: SparkContext, from: Option[String],
      to: Option[String]): Unit = {
    from.foreach(f => sc.removeJobTag(TagPrefix + f))
    to.foreach(t => sc.addJobTag(TagPrefix + t))
  }

  private def labelIn(tags: Iterable[String]): String =
    tags.collect { case t if t.startsWith(TagPrefix) => t.drop(TagPrefix.length) }
      .maxByOption(_.length).getOrElse("")

  /** Length of `span` covered by the union of `spans`. */
  private def covered(spans: Seq[(Long, Long)], span: (Long, Long)): Long = {
    var total = 0L
    var end = Long.MinValue
    spans.map { case (a, b) => (math.max(a, span._1), math.min(b, span._2)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}
