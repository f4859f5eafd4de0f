package graft.core

import graft.{Ledger, Overlap}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, first, min}
import scala.collection.mutable

/** Dependency-graph batch runner — the Spark re-expression of the
  * reference's `CardanoIndexWorker` + `ReducerGraphProcessor`
  * (SURVEY.md T1-T12, §3).
  *
  * Differences by design (Spark-first, not a port):
  *  - reducers run in topological order once per MICRO-BATCH, set-based,
  *    instead of once per block — within-batch visibility (reference T2's
  *    per-block flush) is provided by DataFrame lineage (`BatchContext
  *    .parentOutput`) and by chain validity (an input only spends an
  *    output created no later than itself, so set-based spend matching
  *    over the whole batch equals the per-block fold).
  *  - data parallelism comes from Spark partitioning inside each stage
  *    (the reference is deliberately sequential, P11 — its bottleneck is
  *    fsync, ours is the cluster).
  *  - the batch never materializes on the driver: `flush` takes the
  *    micro-batch DataFrame; checkpoint windows are derived from a top-k
  *    aggregation (the ≤10 newest distinct-slot points), not from
  *    collected blocks.
  *  - one runner = one event feed = one safe intersection (the min over
  *    its registered graph). The reference runs each ROOT's subgraph on
  *    its own chain consumer with a per-root safe point
  *    (`StartPoints.cs:217-269`); the equivalent here is one GraphRunner
  *    (+ store) per root — independent roots sharing a runner are
  *    correct but trimmed to the laggard on resume.
  */
/** Start-point reconciliation diagnostics (T9, reference
  * `CardanoIndexWorker.StartPoints.cs:98-180`).
  */
sealed trait StartDiag
final case class AdjustedStart(dependent: String, parent: String,
    to: Point) extends StartDiag
final case class DependentAhead(dependent: String, parent: String,
    dependentSlot: Long, parentSlot: Long) extends StartDiag
final case class BothInitial(dependent: String, parent: String)
    extends StartDiag

object GraphRunner {
  /** Hashes that are ENGINE sentinels, not chain positions — never
    * persisted into a checkpoint window (a fake-hash point would later
    * be offered as an intersection candidate and can never match a
    * block, hard-failing the next sync after a rewind).
    */
  private[core] val SentinelHashes =
    Set("resume", "rebuild", "origin", "rewind")
}

final class GraphRunner(
    val spark: SparkSession,
    val store: Store,
    reducers: Seq[ChainReducer],
    batchSize: Int = 500,
    maxRollbackSlots: Long = 10000L,
    telemetry: Option[graft.streaming.Telemetry] = None,
    configuredStarts: Map[String, Point] = Map.empty,
    maxDelayMs: Long = 1000L,
    clock: () => Long = () => System.currentTimeMillis()) {

  require(reducers.nonEmpty, "no reducers registered")
  require(reducers.map(_.name).distinct.size == reducers.size,
    s"duplicate reducer names: ${reducers.map(_.name)
      .groupBy(identity).collect { case (n, g) if g.size > 1 => n }.mkString(", ")}")
  // a misspelled configured-start key would silently fall back to
  // origin, count the intended reducer as a FRESH root, and trigger a
  // destructive genesis rebuild on a populated store — reject typos
  // with the same strictness names and dependencies already get
  require(configuredStarts.keySet.subsetOf(reducers.map(_.name).toSet),
    s"configuredStarts for unknown reducer(s): ${
      (configuredStarts.keySet -- reducers.map(_.name)).mkString(", ")}")
  locally {
    val allTables = reducers.flatMap(r => r.tables.map(t => t.name -> r.name))
    val dups = allTables.groupBy(_._1).collect {
      case (t, owners) if owners.size > 1 =>
        s"$t (declared by ${owners.map(_._2).mkString(", ")})"
    }
    require(dups.isEmpty, s"duplicate table names: ${dups.mkString("; ")}")
    // the graft_ prefix is RESERVED for engine metadata: the JDBC
    // backend seeds its user-table registry by filtering it out on
    // restart, so a user table named graft_* would silently drop out
    // of rollback/cleanup there — reject loudly instead
    val reserved = reducers.flatMap(_.tables.map(_.name))
      .filter(_.startsWith("graft_"))
    require(reserved.isEmpty,
      s"table names may not start with the reserved prefix graft_: " +
        reserved.mkString("; "))
  }

  private val byName = reducers.map(r => r.name -> r).toMap

  /** Names of this runner's registered reducers — lets a multi-root
    * caller (Worker.Handle.progress) attribute shared-telemetry rows to
    * the root that actually owns them.
    */
  def reducerNames: Set[String] = byName.keySet

  // ---- graph validation (reference ReducerExtension.cs:110-124,
  // CardanoIndexWorker.DependencyGraph.cs:8-51) ----
  reducers.foreach { r =>
    r.dependsOn.foreach { d =>
      require(byName.contains(d), s"reducer ${r.name} depends on missing $d")
      require(d != r.name, s"reducer ${r.name} depends on itself")
    }
  }

  /** BFS order from roots — valid topologically because each node has at
    * most one parent (reference P10, `DependencyGraph.cs:75-96`). Nodes
    * unreachable from any root form a dependency cycle (each has one
    * parent, so an unreached component must contain a back edge).
    */
  val topoOrder: Seq[ChainReducer] = {
    val children = reducers.groupBy(_.dependsOn)
    val order = mutable.ArrayBuffer[ChainReducer]()
    val queue = mutable.Queue[ChainReducer](
      children.getOrElse(None, Seq.empty).sortBy(_.name): _*)
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      order += r
      queue.enqueueAll(
        children.getOrElse(Some(r.name), Seq.empty).sortBy(_.name))
    }
    require(order.size == reducers.size,
      s"dependency cycle among reducers: ${
        reducers.map(_.name).diff(order.map(_.name).toSeq).mkString(", ")}")
    order.toSeq
  }

  /** `topoOrder` grouped by dependency depth: members of one level are
    * mutually independent (single-parent graph, O9 visibility is parent→
    * child only), so a batch may materialize their outputs concurrently.
    */
  private val levels: Seq[Seq[ChainReducer]] = {
    val depth = mutable.Map[String, Int]()
    topoOrder.foreach(r =>
      depth(r.name) = r.dependsOn.map(depth(_) + 1).getOrElse(0))
    topoOrder.groupBy(r => depth(r.name)).toSeq.sortBy(_._1).map(_._2.toSeq)
  }

  private val tableDefs: Map[String, TableDef] =
    reducers.flatMap(_.tables).map(t => t.name -> t).toMap
  private val slotCols: Map[String, String] =
    tableDefs.map { case (n, d) => n -> d.slotCol }
  private val tableOwner: Map[String, String] =
    reducers.flatMap(r => r.tables.map(t => t.name -> r.name)).toMap
  private val declaredTables: Map[String, Set[String]] =
    reducers.map(r => r.name -> r.tables.map(_.name).toSet).toMap

  /** Checkpoint points deferred by empty commits (reference T4 carry-
    * forward, `ReducerGraphProcessor.cs:222-249`) — in-memory only, like
    * the reference's tracked intersections.
    */
  private var pendingPoints: Map[String, Seq[Point]] = Map.empty

  /** Effective per-reducer start points (T9): configured value (reference
    * per-reducer `StartSlot`/`StartHash` config, `StartPoints.cs:201-215`),
    * possibly adjusted for fresh dependents at reconciliation. Blocks at
    * or before a reducer's start are not delivered to it.
    */
  private var startPoints: Map[String, Point] =
    reducers.map(r =>
      r.name -> configuredStarts.getOrElse(r.name, Point("origin", -1L))).toMap

  def startPoint(reducer: String): Point = startPoints(reducer)

  /** Safe resume slot: the MINIMUM over every REGISTERED reducer's
    * effective floor — its latest checkpoint, or (when it has none) its
    * start point. A reducer with neither counts as -1, forcing a full
    * replay rather than being silently skipped (reference T9/T10,
    * `StartPoints.cs:217-269`).
    */
  def latestCheckpointSlot: Long = {
    val cps = store.checkpoints
    reducers.map { r =>
      CheckpointWindow.latest(cps.getOrElse(r.name, Seq.empty))
        .map(_.slot).getOrElse(startPoints(r.name).slot)
    }.min
  }

  /** The most-advanced reducer checkpoint (the engine's notion of tip). */
  def maxCheckpointSlot: Long = tipOf(store.checkpoints)

  private def tipOf(cps: Map[String, Seq[Point]]): Long =
    cps.values.flatMap(CheckpointWindow.latest).map(_.slot).maxOption
      .getOrElse(-1L)

  /** Process an event sequence: accumulate roll-forwards, flush on batch
    * size (T1 trigger a), on open-batch age ≥ maxDelayMs (trigger b — the
    * reference's `MaxDelayMs=1000` bound on commit latency while a slow
    * source trickles events, `ReducerGraphProcessor.cs:166-173`), on
    * rollback (T5: commit open batch first — the pre-fork blocks are
    * valid), and on drain (T1 trigger c).
    *
    * The age trigger is evaluated ON EVENT ARRIVAL: a pull iterator
    * cannot time out a blocked source, so a batch opened before a long
    * silence commits with the next event (or the drain), not on a wall
    * clock. Feeds needing a hard wall-clock latency bound should run
    * through the streaming path (`ChainIngest` with a `ProcessingTime`
    * trigger), whose micro-batch cadence provides it.
    */
  def processEvents(events: IterableOnce[BlockEvent]): Unit = {
    val open = mutable.ArrayBuffer[Block]()
    var openedAt = 0L
    events.iterator.foreach {
      case RollForward(b) =>
        if (open.isEmpty) openedAt = clock()
        open += b
        if (open.size >= batchSize || clock() - openedAt >= maxDelayMs) {
          flush(open.toSeq); open.clear()
        }
      case RollBack(point, mode) =>
        flush(open.toSeq); open.clear()
        applyRollback(point, mode)
    }
    flush(open.toSeq)
  }

  /** Driver-side convenience flush (generator/tool feeds): the checkpoint
    * window math runs on the local seq; the data path is identical.
    */
  def flush(blocks: Seq[Block]): Unit = {
    if (blocks.isEmpty) return
    import spark.implicits._
    val top = CheckpointWindow.normalize(
      blocks.map(b => Point(b.hash, b.slot)))
    val minSlot = blocks.iterator.map(_.slot).min
    if (store.preferLocalOutputs) {
      // Driver-committing store: keep the batch a LocalRelation — every
      // reducer output is collected right back anyway, so a cache round
      // trip through executors only adds a materialization job.
      flushImpl(blocks.toDS().toDF(), top, minSlot)
    } else {
      // A driver-fed batch is small by construction (≤ batchSize blocks
      // of metadata): a handful of partitions keeps every derived append
      // a handful of parquet files instead of defaultParallelism tiny
      // ones — state reads then open O(segments) files, not
      // O(segments × cores).
      val df = blocks.toDS().toDF()
        .coalesce(math.min(4, math.max(1, blocks.size / 128 + 1))).cache()
      try flushImpl(df, top, minSlot)
      finally df.unpersist()
    }
  }

  /** One micro-batch from a DataFrame (the streaming path): derive the
    * checkpoint window with a top-k job (≤10 rows to the driver) and a
    * min-slot aggregate — the blocks themselves never leave the cluster
    * (reference contract `ReducerGraphProcessor.cs:137-174`, minus the
    * driver-side block loop).
    */
  def flush(blocksDf: DataFrame): Unit = {
    val cached = blocksDf.cache()
    try {
      // distinct-by-slot BEFORE the limit: a micro-batch
      // carrying a duplicate-slot row (at-least-once file delivery)
      // would otherwise spend window slots on duplicates and persist a
      // shallower-than-10 resume window — a modest reorg could then
      // roll past every saved intersection
      val top = cached.select(col("hash"), col("slot"))
        .groupBy(col("slot")).agg(first(col("hash")).as("hash"))
        .orderBy(col("slot").desc)
        .limit(CheckpointWindow.DefaultMaxCount)
        .collect()
        .map(r => Point(r.getString(1), r.getLong(0))).toSeq
      if (top.nonEmpty) {
        val lo = cached.agg(min(col("slot"))).head().getLong(0)
        flushImpl(cached, CheckpointWindow.normalize(top), lo)
      }
    } finally cached.unpersist()
  }

  /** Run reducers in topo order, commit all appends + all checkpoints
    * atomically (T3), defer empty commits (T4). `top` = the batch's
    * newest distinct-slot points (newest first); `minSlot` = the batch's
    * lowest slot (prior checkpoint points at or past it are superseded —
    * the set-level equivalent of folding `addRollForward` per block).
    * Reducers plan at the session's shuffle width: AQE coalesces a
    * micro-batch's post-shuffle partitions to one task.
    */
  private def flushImpl(blocksDf: DataFrame, top: Seq[Point],
      minSlot: Long): Unit = {
    val batchId = store.batchId + 1
    val ctx = new BatchContext(spark, store, tableDefs, Map.empty)
    val appends = mutable.LinkedHashMap[String, (DataFrame, String)]()
    // Each reducer's outputs are materialized ONCE — a dependent's plan
    // (parentOutput/tableWithBatch) would otherwise re-execute the whole
    // parent subtree per reference (balance embeds the UTxO plan 3×).
    // Driver-committing stores get local relations (and their commit
    // collect becomes a free LocalTableScan); distributed stores get an
    // executor cache, released after the commit. Reducers at the same
    // dependency depth are independent, so their outputs materialize as
    // CONCURRENT Spark actions (the reference runs its reducers'
    // RollForwardAsync concurrently per batch too). A reducer's ledger
    // leg spans its whole share of the batch: its state reads, its plan
    // building and staged collects, and its output collect.
    val toUnpersist = mutable.ArrayBuffer[DataFrame]()
    def build(r: ChainReducer): (String, Map[String, DataFrame]) =
      Ledger.leg(r.name) {
        // T9: blocks at or before the reducer's start point are not
        // delivered to it (a late-starting reducer indexes from its
        // start, not genesis — reference `StartPoints.cs:201-215`).
        val startSlot = startPoints(r.name).slot
        val in = if (startSlot >= 0) blocksDf.filter(col("slot") > startSlot)
                 else blocksDf
        // plan building reads the store and registers staged frames on
        // the shared context: one reducer at a time, while the output
        // collects of the others run
        val out = ctx.synchronized(r.rollForward(in, ctx))
        // a key outside the reducer's declared tables would silently
        // clobber another reducer's append (or die later in slotCols
        // with no attribution) — fail here, naming the offender
        val bad = out.keys.filterNot(declaredTables(r.name))
        require(bad.isEmpty, s"reducer ${r.name} returned undeclared " +
          s"table(s): ${bad.mkString(", ")} (declared: ${
            declaredTables(r.name).mkString(", ")})")
        r.name -> out.map { case (t, df) =>
          if (store.preferLocalOutputs) t -> BatchContext.localized(spark, df)
          else {
            val c = df.cache(); toUnpersist += c; t -> c
          }
        }
      }
    try {
      levels.foreach { level =>
        val shapedByReducer =
          if (store.preferLocalOutputs) Overlap.all(level.map(r => () => build(r)))
          else level.map(build)
        shapedByReducer.foreach { case (name, out) =>
          ctx.outputs = ctx.outputs.updated(name, out)
          out.foreach { case (t, df) => appends(t) = (df, slotCols(t)) }
        }
      }
      flushCommit(blocksDf, batchId, appends, top, minSlot, ctx)
    } finally {
      toUnpersist.foreach(_.unpersist(false))
      ctx.staged.foreach(_.unpersist(false))
    }
  }

  private def flushCommit(blocksDf: DataFrame, batchId: Long,
      appends: mutable.LinkedHashMap[String, (DataFrame, String)],
      top: Seq[Point], minSlot: Long, ctx: BatchContext): Unit = {
    val stored = store.checkpoints
    val newCps = topoOrder.map { r =>
      val prior = pendingPoints.getOrElse(r.name,
        stored.getOrElse(r.name, Seq.empty))
      r.name -> CheckpointWindow.normalize(
        top ++ prior.filter(_.slot < minSlot))
    }.toMap
    // Rows whose retraction can never be requested (rollback depth guard,
    // T6) may be dropped at compaction: frontier = new tip − guard.
    val frontier = top.head.slot - maxRollbackSlots
    // Bind each registered compaction to this commit's frontier: both
    // shapes carry a SQL form (DB backends run them as one in-txn
    // DELETE) AND a DataFrame form (segment-store fold). Schemas
    // come from the registry, so tables with no appends this batch still
    // compact on compaction cycles.
    // Compactor view of a table = committed state ∪ THIS commit's own
    // appends. The DB backends' in-txn SQL DELETEs see the just-inserted
    // rows; the segment store's DataFrame fold runs before the manifest
    // swap and would not — without the union the two backends diverge,
    // and a DropUnmatched row whose match arrives in this very commit
    // would be wrongly dropped by the segment fold.
    def tableAtCommit(n: String): DataFrame = appends.get(n) match {
      case Some((df, _)) => ctx.table(n).unionByName(df)
      case None => ctx.table(n)
    }
    val compactors: Map[String, BoundCompactor] = tableDefs.collect {
      case (t, d) if d.compactWith.isDefined =>
        t -> (d.compactWith.get match {
          case Compaction.DropMatched(against, keys, slotCol) =>
            BoundCompactor(d.schema,
              df => df.join(
                tableAtCommit(against).filter(col(slotCol) <= frontier)
                  .select(keys.map(col): _*),
                keys, "left_anti"),
              SqlCompaction(against, keys, slotCol, frontier,
                dropMatched = true))
          case Compaction.DropUnmatched(against, keys, slotCol) =>
            BoundCompactor(d.schema,
              df => df.filter(col(slotCol) > frontier).unionByName(
                df.filter(col(slotCol) <= frontier).join(
                  tableAtCommit(against).select(keys.map(col): _*),
                  keys, "left_semi")),
              SqlCompaction(against, keys, slotCol, frontier,
                dropMatched = false))
        })
    }
    // segment-write times aggregate PER REDUCER per batch (a reducer may
    // own several tables; telemetry counts one batch, summing its writes)
    val segTimes = mutable.Map[String, Double]()
    val onSegment: (String, Double) => Unit = (table, sec) =>
      segTimes.synchronized {
        val owner = tableOwner.getOrElse(table, table)
        segTimes(owner) = segTimes.getOrElse(owner, 0.0) + sec
      }
    val wrote = Ledger.leg("commit")(
      store.commit(batchId, appends.toMap, newCps, compactors, onSegment))
    telemetry.foreach(t => segTimes.foreach { case (r, sec) =>
      t.record(r, sec, top.head.slot)
    })
    if (wrote) pendingPoints = Map.empty
    else pendingPoints = newCps // deferred or replayed: carry forward
  }

  /** Retraction (T5/T6): normalize Exclusive ⇒ delete >= slot+1
    * (`ReducerGraphProcessor.cs:178-183`), guard depth
    * (`CardanoIndexWorker.cs:229-247`), roll every reducer back, commit
    * immediately (never deferred).
    */
  def applyRollback(point: Point, mode: RollbackMode): Unit =
    applyRollback(point, mode, guarded = true)

  /** Operator-initiated rewind (T11, `CardanoIndexWorker.cs:181-202`):
    * bypasses the depth guard — a deliberate maintenance decision, like
    * the reference's config-driven rollback mode.
    */
  def forceRollback(point: Point, mode: RollbackMode): Unit =
    applyRollback(point, mode, guarded = false)

  private def applyRollback(point: Point, mode: RollbackMode,
      guarded: Boolean): Unit = {
    val delSlot = mode match {
      case Inclusive => point.slot
      case Exclusive => point.slot + 1
    }
    val stored = store.checkpoints
    val current = tipOf(stored)
    if (guarded)
      require(current < 0 || current - delSlot < maxRollbackSlots,
        s"rollback to $delSlot exceeds MaxRollbackSlots=$maxRollbackSlots " +
          s"behind current $current")
    // an EXCLUSIVE rollback's point SURVIVES on-chain by definition —
    // keep it in each window. Without this, a rollback deeper than the
    // ~10-slot window depth (any real Rewind, any deep reorg) emptied
    // every window while the tables kept their rows below delSlot; the
    // next restart then saw "no checkpoints", replayed from genesis,
    // and silently DUPLICATED the whole retained prefix.
    // Sentinel points (resume/rebuild/origin) are not chain positions
    // and are never persisted; Inclusive destroys its point, so an
    // emptied window there is handled by reconcileStartup's
    // data-without-checkpoints rebuild.
    val keepPoint = mode == Exclusive && point.slot >= 0 &&
      !GraphRunner.SentinelHashes.contains(point.hash)
    val newCps = reducers.map { r =>
      val prior = pendingPoints.getOrElse(r.name,
        stored.getOrElse(r.name, Seq.empty))
      val trimmed = CheckpointWindow.applyRollback(prior, delSlot)
      r.name -> (if (keepPoint && !trimmed.exists(_.slot == point.slot))
        CheckpointWindow.normalize(point +: trimmed)
      else trimmed)
    }.toMap
    store.rollback(delSlot, slotCols, newCps)
    pendingPoints = Map.empty
  }

  /** T9 start-point adjustment (`StartPoints.cs:98-180`), in topological
    * order so chains adjust through their parents:
    *  - a FRESH dependent (no checkpoint) of a parent that has synced
    *    adopts the parent's latest point as its start (it does not replay
    *    history the parent has already passed — reference Case 1);
    *  - a dependent whose own progress is AHEAD of its parent's is
    *    reported (reference Case 2's inconsistent state; the subsequent
    *    min-over-graph rollback self-heals it by trimming the extra rows);
    *  - parent and dependent both fresh: nothing to do (bootstrap case).
    */
  def adjustStartPoints(): Seq[StartDiag] = {
    val cps = store.checkpoints
    val diags = mutable.ArrayBuffer[StartDiag]()
    topoOrder.foreach { r =>
      r.dependsOn.foreach { parent =>
        val parentLatest =
          CheckpointWindow.latest(cps.getOrElse(parent, Seq.empty))
            .orElse(Some(startPoints(parent)).filter(_.slot >= 0))
        val myWindow = cps.getOrElse(r.name, Seq.empty)
        val myLatest = CheckpointWindow.latest(myWindow)
        parentLatest match {
          case None =>
            if (myLatest.isDefined)
              diags += DependentAhead(r.name, parent, myLatest.get.slot, -1L)
            else diags += BothInitial(r.name, parent)
          case Some(pl) =>
            if (myWindow.isEmpty && startPoints(r.name).slot < pl.slot) {
              startPoints = startPoints.updated(r.name, pl)
              diags += AdjustedStart(r.name, parent, pl)
            } else if (myLatest.exists(_.slot > pl.slot))
              diags += DependentAhead(r.name, parent, myLatest.get.slot, pl.slot)
        }
      }
    }
    diags.foreach(d => System.err.println(s"[graft] start-point: $d"))
    diags.toSeq
  }

  /** Startup reconciliation (T9/T10 + §3.3): adjust fresh-dependent start
    * points, then roll back to the safe slot — the MINIMUM of every
    * registered reducer's effective floor (so no reducer misses blocks) —
    * mirroring the protocol's initial RollBackward, which trims any rows
    * orphaned by a crash after their checkpoint
    * (`WorkerCrashRecoveryTest.cs:21-37`).
    *
    * A registered ROOT with no checkpoint in a non-empty store forces a
    * rebuild from genesis (unguarded rollback to 0 + full replay) so the
    * new reducer cannot silently miss history; a fresh DEPENDENT instead
    * adopts its parent's position (reference T9 semantics).
    */
  def reconcileStartup(): Seq[StartDiag] = {
    val diags = adjustStartPoints()
    // a parent whose effective start sits AHEAD of a dependent's resume
    // base would silently lose rows: flushImpl filters
    // each reducer's input by its OWN start, so the dependent processes
    // blocks the parent skips — the inner parent-output join then drops
    // them permanently (tx_index) or corrupts running state
    // (balance snapshots). adjustStartPoints aligns FRESH dependents;
    // a checkpointed dependent cannot be aligned without data loss, so
    // the misconfiguration fails loudly here instead.
    locally {
      val cps = store.checkpoints
      reducers.foreach { r =>
        r.dependsOn.foreach { parent =>
          val childBase = math.max(
            CheckpointWindow.latest(cps.getOrElse(r.name, Seq.empty))
              .map(_.slot).getOrElse(-1L),
            startPoints(r.name).slot)
          val pStart = startPoints(parent).slot
          require(pStart <= childBase || childBase < 0,
            s"parent $parent starts at slot $pStart, AHEAD of its " +
              s"checkpointed dependent ${r.name} (resume base " +
              s"$childBase): the dependent would process blocks the " +
              "parent skips and silently lose their joined rows. " +
              "Rewind the dependent or drop the parent's configured " +
              "start.")
        }
      }
    }
    val safe = latestCheckpointSlot
    val tip = maxCheckpointSlot
    if (tip >= 0) {
      if (safe >= 0) {
        // roll back to the REAL chain point at the safe slot whenever
        // one is known: the "resume" sentinel is never
        // persisted, so when the min-across-graph gap exceeds a
        // veteran's ~10-slot window depth (a newly registered root with
        // a configured start far behind the veterans), the sentinel
        // form EMPTIED those windows while their tables kept rows at
        // or below the safe slot — latestCheckpointSlot then fell back
        // below the data frontier and the next resume replayed the
        // retained prefix from genesis ON TOP of it. The reducer that
        // DEFINES the safe slot always has its Point (stored window or
        // configured start), and that point is on-chain — rolling back
        // to IT lets the Exclusive keep-the-survivor rule anchor every
        // window at the true data frontier.
        val cps = store.checkpoints
        val safePoint = reducers.iterator.map { r =>
          CheckpointWindow.latest(cps.getOrElse(r.name, Seq.empty))
            .getOrElse(startPoints(r.name))
        }.find(p => p.slot == safe &&
          !GraphRunner.SentinelHashes.contains(p.hash))
        applyRollback(safePoint.getOrElse(Point("resume", safe)),
          Exclusive, guarded = false)
      }
      else applyRollback(Point("rebuild", 0L), Inclusive, guarded = false)
    } else if (store.batchId >= 0) {
      // SECOND line of defense: committed data with ZERO checkpoint
      // points anywhere (a legacy deep rollback, or an Inclusive one
      // that legitimately emptied the windows). Treating it as a fresh
      // store would replay from genesis OVER the retained rows,
      // duplicating them — rebuild instead: wipe and replay clean.
      applyRollback(Point("rebuild", 0L), Inclusive, guarded = false)
    }
    diags
  }

  /** The replay-trim floor is MUTABLE: it starts at the safe slot (drop
    * blocks already committed, the at-least-once replay trim) but must
    * FOLLOW any in-stream rollback below it — after
    * `RollBack(p)` the chain's replacement blocks legitimately carry
    * slots at or below the old floor, and a static snapshot would drop
    * them, leaving a permanent gap between the rollback point and the
    * old floor (silent data loss the next checkpoint would seal in).
    */
  def resume(events: IterableOnce[BlockEvent]): Unit = {
    reconcileStartup()
    var floor = latestCheckpointSlot
    processEvents(events.iterator.filter {
      case RollForward(b) => b.slot > floor
      case RollBack(p, mode) =>
        val kept = if (mode == Exclusive) p.slot else p.slot - 1
        floor = math.min(floor, kept)
        true
    })
  }
}
