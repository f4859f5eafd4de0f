package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

/** Independent Spark-driving computations run concurrently on driver
  * threads (guide §2.6 "overlap independent jobs"): the scheduler
  * interleaves their jobs, so one side's stage tails back-fill the
  * other's idle cores. Results are deterministic — each side's plan is
  * unchanged; only job submission overlaps. The one spelling for the
  * catalog's overlapped legs, `Partials`' stores and writes, GraphRunner's
  * per-level output collects and both stores' commit jobs.
  *
  *  - A dedicated unbounded cached pool, not the global ForkJoinPool:
  *    nested calls (q128/q129/q132 and `Partials.write` reach depth 2–3)
  *    block their submitting thread in `Await`, and on a fixed pool that
  *    is a starvation deadlock; daemon threads, so the pool never blocks
  *    JVM exit.
  *  - EVERY job is awaited even when one fails, so no job keeps running
  *    past the caller — into `Harness.settle`, the next timed rep, or a
  *    retried store commit that reuses the failed attempt's segment
  *    ids. The first failure is rethrown with the others suppressed on it.
  *  - Each job body runs under the caller's [[Ledger]] leg: a cached pool
  *    thread keeps the labels of the thread that created it, so a label
  *    set around the future would not be seen.
  */
object Overlap {

  private lazy val driverPool: ExecutionContext =
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-driver-overlap")
        t.setDaemon(true)
        t
      }))

  /** Run `jobs` concurrently; results keep the jobs' order. */
  def all[A](jobs: Seq[() => A]): Seq[A] =
    if (jobs.size <= 1) jobs.map(_())
    else {
      val leg = Ledger.current
      val rs = jobs.map(j => Future(Ledger.under(leg)(j()))(driverPool))
        .map(f => Try(Await.result(f, Duration.Inf)))
      rs.flatMap(_.failed.toOption) match {
        case first +: rest =>
          rest.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        case _ => rs.map(_.get)
      }
    }

  /** Two jobs of different result types. */
  def pair[A, B](fa: => A, fb: => B): (A, B) = {
    val Seq(a, b) = all[Any](Seq(() => fa, () => fb))
    (a.asInstanceOf[A], b.asInstanceOf[B])
  }
}
