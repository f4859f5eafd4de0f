package graft.perfbench

import graft.core._
import graft.operators.ReducerGraphs
import graft.sources._
import graft.streaming.{ReducerProgress, Telemetry}
import org.apache.spark.sql.functions._

/** chain-catchup: a seeded chain with scripted reorgs, served by one
  * loopback [[MuxChainSyncServer]], pulled by one [[MuxChainProvider]]
  * through [[ProviderSync.run]] into a [[GraphRunner]] carrying the four
  * UTxO reducers over a [[JdbcStore]], at the default batch size.
  *
  * One bearer session serves the first `warm` blocks (warm-up) and the
  * next `n` (the window). Warm-up ends on a reorg rollback, so the window
  * opens when that rollback returns: nothing is pending and the session's
  * opening rollback lies in the warm-up.
  */
object ChainCatchup {
  /** Canonical blocks per second of `--seconds` the fixed work is sized by. */
  val NominalRate = 200
  /** Warm-up and window are whole reorg segments, a multiple of five in
    * the window, so every fifth of it holds the same ops. Four warm-up
    * segments pass the steep part of the cold ramp; the slow tail after it
    * would take longer than the run's time budget allows.
    */
  val WarmBlocks = 4 * ChainScript.ReorgEvery
  val MaxBearerFailures = 3

  private final class TimedProvider(inner: ChainProvider, tracer: Tracer,
      clock: BlockClock, closeAfter: Option[Int]) extends ChainProvider {
    @volatile var last: TimedEvents = _
    def startChainSync(candidates: Seq[Point]): Iterator[BlockEvent] = {
      last = new TimedEvents(
        tracer.span("sources.connect")(inner.startChainSync(candidates)),
        tracer, clock, closeAfter)
      last
    }
    def tip: Option[Point] = inner.tip
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val segments = 5 * math.max(1, math.round(
      ctx.args.seconds * NominalRate / (5.0 * ChainScript.ReorgEvery)).toInt)
    val (warm, n) = ctx.sized((ChainScript.ReorgEvery, ChainScript.ReorgEvery),
      (WarmBlocks, segments * ChainScript.ReorgEvery))
    val script = ctx.benchOnly(ChainScript.build(warm + n, ctx.args.seed))
    val clock = new BlockClock(script.canonicalHashes)
    val store = new TimedStore(new JdbcStore(ctx.dir + "/store", spark),
      tracer, clock)
    val reducers = ReducerGraphs.default(CborChainGen.Watched)
    val telemetry = if (ctx.args.trace)
      Some(new Telemetry(reducers.map(r => r.name -> r.dependsOn).toMap,
        bufferSize = 1 << 20))
      else None
    val runner = new GraphRunner(spark, store, reducers, telemetry = telemetry)

    var failed = 0L
    var sessions = 0L
    var waitNs = 0L
    var events = 0L
    var live: Option[TimedProvider] = None
    def current: Option[TimedEvents] = live.flatMap(p => Option(p.last))
    def waited: Long = waitNs + current.map(_.waitNs).getOrElse(0L)
    def yielded: Long = events + current.map(_.events).getOrElse(0L)
    /** Serve canonical blocks [0, until) and sync them; a dropped bearer
      * counts as a failed op and the sync resumes from the committed
      * checkpoint with a fresh bearer.
      */
    def sync(until: Int, closeAfter: Option[Int]): Unit = {
      var start = 0
      var inject = closeAfter
      var done = false
      while (!done) {
        val server = new MuxChainSyncServer(script.canonical.take(until),
          Some(script.slice(start, until)))
        val provider = new TimedProvider(
          new MuxChainProvider("127.0.0.1", server.port), tracer, clock, inject)
        live = Some(provider)
        sessions += 1
        try {
          ProviderSync.run(runner, provider)
          done = true
        } catch {
          case e: Exception if failed < MaxBearerFailures =>
            System.err.println(s"perfbench: bearer failed: $e")
            failed += 1
            clock.dropPending()
            inject = None
            val tip = ProviderSync.safeCandidates(runner)
              .find(p => script.canonicalHashes.contains(p.hash))
            start = tip.map(p =>
              script.canonical.indexWhere(_._2.hash == p.hash) + 1).getOrElse(0)
        } finally {
          server.close()
          current.foreach { it => waitNs += it.waitNs; events += it.events }
          live = None
        }
      }
    }

    // counters at the window's start
    var opsBefore, commitNs0, rollbackNs0, readNs0, reads0, commits0, rollbacks0 = 0L
    var waitNs0, events0, canonical0, blocks0 = 0L
    var commit0 = 0
    var tel0: Map[String, ReducerProgress] = Map.empty
    def openWindow(): Unit = {
      opsBefore = store.commits + store.rollbacks
      commitNs0 = store.commitNs; rollbackNs0 = store.rollbackNs; readNs0 = store.readNs
      reads0 = store.reads; commits0 = store.commits; rollbacks0 = store.rollbacks
      tel0 = telemetry.map(_.snapshot.map(p => p.reducer -> p).toMap).getOrElse(Map.empty)
      waitNs0 = waited; events0 = yielded
      canonical0 = clock.canonicalCommitted
      blocks0 = clock.blocksCommitted
      commit0 = store.commitMs.size
      clock.recording = true
      ctx.startWindow()
    }
    // the work curve has a point at each rollback's return, the end of a
    // reorg segment, so each fifth of the window is one whole segment
    val progress = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    store.afterRollback = () =>
      if (clock.recording) progress += ((System.nanoTime(), clock.canonicalCommitted))
      else if (!ctx.windowStarted && clock.canonicalCommitted >= warm) openWindow()
    if (warm == 0) openWindow()
    // the injected close counts blocks of the window; the session also
    // yields the warm-up's canonical blocks and orphans
    val warmYield = script.slice(0, warm).count(_.isInstanceOf[ServeForward])
    sync(warm + n, ctx.args.injectClose.map(_ + warmYield))
    clock.recording = false
    require(ctx.windowStarted, "the warm-up's last rollback never returned")
    val win = ctx.endWindow()
    val windowNs = win.endNs - win.startNs
    val ops = store.commits + store.rollbacks - opsBefore

    val work = (clock.canonicalCommitted - canonical0).toDouble
    val curve = progress.map { case (t, c) =>
      ((t - win.startNs) / 1e9, (c - canonical0).toDouble) }.toSeq
    val storeNsWin = (store.commitNs - commitNs0) + (store.rollbackNs - rollbackNs0) +
      (store.readNs - readNs0)
    val commitsWin = store.commits - commits0
    val layers = Map(
      "sources.wait_s" -> (waitNs - waitNs0) / 1e9,
      "sources.events" -> (events - events0).toDouble,
      "core.commit_s" -> (store.commitNs - commitNs0) / 1e9,
      "core.commit_p50_ms" -> Stats.median(store.commitMs.drop(commit0).toSeq),
      "core.commits" -> commitsWin.toDouble,
      "core.blocks_per_commit" ->
        (clock.blocksCommitted - blocks0).toDouble / math.max(1L, commitsWin),
      "core.rollback_s" -> (store.rollbackNs - rollbackNs0) / 1e9,
      "core.rollbacks" -> (store.rollbacks - rollbacks0).toDouble,
      "core.store_reads_per_commit" ->
        (store.reads - reads0).toDouble / math.max(1L, commitsWin),
      "core.engine_s" -> (windowNs - (waitNs - waitNs0) - storeNsWin) / 1e9) ++
      telemetry.toSeq.flatMap { t =>
        t.snapshot.map { p =>
          val before = tel0.get(p.reducer)
            .map(b => b.meanBatchSec * b.batches).getOrElse(0.0)
          s"operators.${p.reducer}.write_s" -> (p.meanBatchSec * p.batches - before)
        }
      }

    // output checks, outside the window
    val checkStart = System.nanoTime()
    val tip = script.canonical.last._2
    val oracle = CborChainGen.balanceOracle(script.canonical).last._2
    val snaps = store.read("balance_snapshots",
      reducers.flatMap(_.tables).find(_.name == "balance_snapshots").get.schema)
    val balances = snaps.groupBy("addressName")
      .agg(max_by(col("balance"), col("slot")).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val blocks = store.read("blocks",
      reducers.flatMap(_.tables).find(_.name == "blocks").get.schema)
      .select("hash").collect().map(_.getString(0)).toSeq
    val cps = store.checkpoints
    val checks = Map(
      "balances_match_oracle" -> (balances == oracle),
      "checkpoints_at_tip" -> reducers.forall(r =>
        CheckpointWindow.latest(cps.getOrElse(r.name, Nil))
          .contains(Point(tip.hash, tip.slot))),
      "canonical_blocks_once" -> (blocks.size == script.canonical.size &&
        blocks.toSet == script.canonicalHashes))
    if (!checks.values.forall(identity))
      System.err.println(s"perfbench: chain checks $checks balances=$balances " +
        s"oracle=$oracle blocks=${blocks.size}/${script.canonical.size}")

    Outcome(
      work = work,
      win = win,
      latencyMs = clock.latencyMs.toSeq,
      curve = curve,
      attempted = ops + failed,
      failed = failed,
      checks = checks,
      layers = layers,
      record = Map(
        "blocks_warm" -> warm.toDouble, "blocks_window" -> n.toDouble,
        "reorgs_total" -> script.reorgs.toDouble,
        "orphans_total" -> script.orphans.toDouble,
        "commits_full" -> store.commitBlocks.drop(commit0).count(_ >= 500).toDouble,
        "commits_partial" -> store.commitBlocks.drop(commit0).count(_ < 500).toDouble,
        "bearer_sessions" -> sessions.toDouble,
        "bearer_failures" -> failed.toDouble,
        "check_s" -> (System.nanoTime() - checkStart) / 1e9),
      digests = Map("chain_wire" -> script.wireDigest))
  }
}
