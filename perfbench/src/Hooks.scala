package graft.perfbench

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** Forwarding [[Store]]: times every call into the `core` storage seam
  * and tells the block clock when a commit returns. Counters are always
  * kept (the end-to-end latency needs the commit return time); spans
  * are recorded only when the tracer is on.
  */
final class TimedStore(inner: Store, tracer: Tracer, clock: BlockClock)
    extends Store {
  var commitNs = 0L
  var commits = 0L
  val commitMs = mutable.ArrayBuffer[Double]()
  /** blocks held by each commit, in order */
  val commitBlocks = mutable.ArrayBuffer[Int]()
  var rollbackNs = 0L
  var rollbacks = 0L
  var readNs = 0L
  var reads = 0L
  /** Called after every rollback returns. */
  var afterRollback: () => Unit = () => ()

  def root: String = inner.root
  override def preferLocalOutputs: Boolean = inner.preferLocalOutputs

  private def read[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span(name)(f)
    finally { readNs += System.nanoTime() - t0; reads += 1 }
  }

  def batchId: Long = read("core.batch_id")(inner.batchId)
  def checkpoints: Map[String, Seq[Point]] =
    read("core.checkpoints")(inner.checkpoints)
  def read(table: String, schema: StructType): DataFrame =
    read("core.read")(inner.read(table, schema))
  def readLatestSegment(table: String, schema: StructType): DataFrame =
    read("core.read_latest")(inner.readLatestSegment(table, schema))

  def commit(batchId: Long, appends: Map[String, (DataFrame, String)],
      checkpoints: Map[String, Seq[Point]],
      compactors: Map[String, BoundCompactor],
      onSegment: (String, Double) => Unit): Boolean = {
    val held = clock.pending
    val t0 = System.nanoTime()
    val wrote = tracer.span("core.commit")(
      inner.commit(batchId, appends, checkpoints, compactors, onSegment))
    val t1 = System.nanoTime()
    commitNs += t1 - t0
    commits += 1
    commitMs += (t1 - t0) / 1e6
    commitBlocks += held
    if (wrote) clock.committed(held, t1)
    wrote
  }

  def rollback(delSlot: Long, slotCols: Map[String, String],
      checkpoints: Map[String, Seq[Point]]): Unit = {
    val t0 = System.nanoTime()
    tracer.span("core.rollback")(inner.rollback(delSlot, slotCols, checkpoints))
    rollbackNs += System.nanoTime() - t0
    rollbacks += 1
    afterRollback()
  }
}

/** Per-block clock: the time the provider yielded each block, matched to
  * the return of the commit that holds it. Blocks are committed in yield
  * order, so the blocks a commit holds are the oldest `held` pending ones.
  */
final class BlockClock(canonical: Set[String]) {
  private val yielded = mutable.Queue[(Long, Boolean)]()
  val latencyMs = mutable.ArrayBuffer[Double]()
  var canonicalCommitted = 0L
  var blocksCommitted = 0L
  var recording = false

  def pending: Int = yielded.size
  def yieldedBlock(hash: String, at: Long): Unit =
    yielded.enqueue((at, canonical.contains(hash)))
  def committed(held: Int, at: Long): Unit = {
    blocksCommitted += held
    (0 until held).foreach { _ =>
      val (y, canon) = yielded.dequeue()
      if (recording) latencyMs += (at - y) / 1e6
      if (canon) canonicalCommitted += 1
    }
  }
  /** A dropped bearer loses the open batch; it is served again. */
  def dropPending(): Unit = yielded.clear()
}

/** Provider-iterator wrapper: time blocked in the bearer's `hasNext` /
  * `next` (`sources.wait_s`), events yielded, and block yield times. With
  * `closeAfter` set, it closes the bearer under the engine after that many
  * blocks, the way a dropped connection does.
  */
final class TimedEvents(inner: Iterator[BlockEvent], tracer: Tracer,
    clock: BlockClock, closeAfter: Option[Int])
    extends Iterator[BlockEvent] with AutoCloseable {
  var waitNs = 0L
  var events = 0L
  private var blocks = 0

  private def timed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span("sources.next")(f)
    finally waitNs += System.nanoTime() - t0
  }

  def hasNext: Boolean = {
    if (closeAfter.contains(blocks)) close()
    timed(inner.hasNext)
  }

  def next(): BlockEvent = {
    val e = timed(inner.next())
    events += 1
    e match {
      case RollForward(b) =>
        blocks += 1
        clock.yieldedBlock(b.hash, System.nanoTime())
      case _ => ()
    }
    e
  }

  def close(): Unit = inner match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}
