package graft

import graft.core._
import graft.sources._

/** The MULTIPLEXED N2N bearer end to end: chain-sync HEADERS and
  * BlockFetch BODIES over one loopback socket, the reference's actual
  * source shape (`N2NProvider.cs:89-215`) — batch of pipelined
  * RequestNexts sized by the adaptive depth, drained to ZERO, then each
  * contiguous header run fetched as one BlockFetch range, rollbacks
  * ordered after the run they interrupt. Mux framing is the public
  * network-mux layout (timestamp, protocol id with responder bit,
  * length), with message reassembly across segmented frames proven by
  * shrinking the segment limit below the message size.
  */
class MuxChainSyncSpec extends SparkSpec {

  private def genChain(n: Int, seed: Int)
      : (Seq[(Array[Byte], Block)], Map[String, String]) =
    (CborChainGen.generate(n, seed), CborChainGen.Watched)

  test("headers + bodies multiplex over one socket: fidelity, pipelining, range fetches") {
    val (chain, _) = genChain(600, seed = 31)
    val server = new MuxChainSyncServer(chain)
    try {
      val p = new MuxChainProvider("127.0.0.1", server.port, maxDepth = 20)
      assert(p.tip.contains(Point(chain.last._2.hash, chain.last._2.slot)))
      val events = p.startChainSync(Seq.empty).toVector
      events.head match {
        case RollBack(pt, mode) =>
          assert(pt.hash == "origin" && mode == Inclusive)
        case other => fail(s"stream must open with a rollback, got $other")
      }
      val blocks = events.collect { case RollForward(b) => b }
      assert(blocks == chain.map(_._2).toVector,
        "block fidelity: headers over chain-sync, bodies over BlockFetch")
      // both mini-protocols actually spoke on the ONE socket
      assert(server.chainSyncFrames > 0 && server.blockFetchFrames > 0,
        s"mux never multiplexed: cs=${server.chainSyncFrames} " +
          s"bf=${server.blockFetchFrames}")
      // 600 slots behind ⇒ the step function batches 20-deep, and the
      // server saw that window outstanding before the first fetch
      assert(server.maxInflight >= 10,
        s"pipelining never happened: maxInflight=${server.maxInflight}")
      // body fetches were RANGES (runs), not one request per block
      assert(server.rangeRequests < chain.size / 2,
        s"${server.rangeRequests} range requests for ${chain.size} blocks " +
          "— runs are not being batched")
    } finally server.close()
  }

  test("message segmentation: bodies larger than the mux segment reassemble across frames") {
    val (chain, _) = genChain(30, seed = 32)
    val maxWire = chain.map(_._1.length).max
    // force EVERY body (and any header message ≥ 64 B) to span frames
    val server = new MuxChainSyncServer(chain, maxSegment = 64)
    try {
      assert(maxWire > 64, s"fixture too small to exercise segmentation")
      val events = new MuxChainProvider("127.0.0.1", server.port)
        .startChainSync(Seq.empty).toVector
      val blocks = events.collect { case RollForward(b) => b }
      assert(blocks == chain.map(_._2).toVector,
        "reassembly across segmented mux frames must be lossless")
    } finally server.close()
  }

  test("mid-stream rollback: the interrupted run is fetched and yielded BEFORE the rollback") {
    val (chain, _) = genChain(20, seed = 33)
    val (alt, _) = genChain(24, seed = 34)
    val back = chain(9)._2
    val script = chain.take(10).map { case (w, b) => ServeForward(w, b) } ++
      Seq(ServeBack(Point(back.hash, back.slot))) ++
      alt.drop(20).map { case (w, b) => ServeForward(w, b) }
    val server = new MuxChainSyncServer(chain, Some(script))
    try {
      val events = new MuxChainProvider("127.0.0.1", server.port)
        .startChainSync(Seq.empty).toVector
      val reorgIdx = events.indexWhere {
        case RollBack(pt, Exclusive) => pt.slot == back.slot
        case _ => false
      }
      assert(reorgIdx > 0, s"scripted reorg never surfaced: $events")
      val before = events.slice(1, reorgIdx).collect { case RollForward(b) => b }
      assert(before == chain.take(10).map(_._2).toVector,
        "the pre-rollback run must be fetched and yielded first")
      val after = events.drop(reorgIdx + 1).collect { case RollForward(b) => b }
      assert(after == alt.drop(20).map(_._2).toVector)
    } finally server.close()
  }

  test("intersection negotiation over the mux: newest survivor wins, all-gone fails hard") {
    val (chain, _) = genChain(40, seed = 35)
    val server = new MuxChainSyncServer(chain)
    try {
      val good = chain(19)._2
      val fork = Point("ab" * 32, chain(30)._2.slot)
      val events = new MuxChainProvider("127.0.0.1", server.port)
        .startChainSync(Seq(Point(good.hash, good.slot), fork)).toVector
      events.head match {
        case RollBack(pt, mode) =>
          assert(pt == Point(good.hash, good.slot) && mode == Exclusive)
        case other => fail(s"$other")
      }
      val blocks = events.collect { case RollForward(b) => b }
      assert(blocks == chain.map(_._2).filter(_.slot > good.slot).toVector)
      val ex = intercept[IllegalStateException] {
        new MuxChainProvider("127.0.0.1", server.port)
          .startChainSync(Seq(fork, Point("cd" * 32, 1L)))
      }
      assert(ex.getMessage.contains("rolled back"), ex.getMessage)
    } finally server.close()
  }

  test("a malformed intersect reply fails loudly AND releases the connection") {
    // a reply that dies in CBOR decode throws before the reply match;
    // the fake server seeing EOF after the client's failure is the
    // on-the-wire proof that the client closed its socket
    import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
    import java.net.{InetAddress, ServerSocket}
    val srv = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    @volatile var sawEof = false
    val t = new Thread(() => {
      val s = srv.accept()
      val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(s.getOutputStream))
      val demux = new MuxDemux(in)
      val (reply, _) = HandshakeWire.negotiate(
        demux.nextMessage(HandshakeWire.ProtoHandshake),
        HandshakeWire.DefaultVersions, HandshakeWire.DefaultMagic)
      Mux.writeMsg(out, HandshakeWire.ProtoHandshake, responder = true, reply)
      out.flush()
      demux.nextMessage(Mux.ProtoChainSync) // the FindIntersect
      // a complete CBOR item (a 2-byte string) that is no intersect reply
      Mux.writeMsg(out, Mux.ProtoChainSync, responder = true,
        Array[Byte](0x42, 0x00, 0x00))
      out.flush()
      // a closed client surfaces as EOF/reset on the next read
      try { in.readInt(); () }
      catch { case _: java.io.IOException => sawEof = true }
      s.close()
    })
    t.setDaemon(true); t.start()
    try {
      val provider = new MuxChainProvider("127.0.0.1", srv.getLocalPort)
      intercept[Exception] { provider.startChainSync(Seq.empty) }
      t.join(5000)
      assert(sawEof, "client socket was not released after the failed intersect")
    } finally srv.close()
  }

  test("ProviderSync drives the UTxO graph from the mux socket to oracle balances") {
    val sp = spark
    val (chain, watched) = genChain(16, seed = 36)
    val oracle = CborChainGen.balanceOracle(chain, watched)
    val server = new MuxChainSyncServer(chain)
    try {
      val reducers = Seq(
        new graft.operators.BlockSummaryReducer,
        new graft.operators.TxIndexReducer,
        new graft.operators.WalletUtxoReducer(watched),
        new graft.operators.BalanceSnapshotReducer(watched))
      val store = new graft.core.StateStore(tmpDir("mux-sync-store"), sp)
      val runner = new graft.core.GraphRunner(sp, store, reducers, batchSize = 500)
      ProviderSync.run(runner,
        new MuxChainProvider("127.0.0.1", server.port))
      val snaps = store.read("balance_snapshots", reducers(3).tables.head.schema)
        .collect().groupBy(_.getLong(3))
        .map { case (s, rs) => s -> rs.map(r => r.getString(1) -> r.getLong(4)).toMap }
      assert(snaps.size == oracle.size)
      oracle.foreach { case (s, bal) =>
        assert(snaps(s) == bal, s"slot $s: ${snaps(s)} vs $bal")
      }
    } finally server.close()
  }

  test("live tip over the mux: awaited headers arrive when the chain grows, bodies fetch from the extended index") {
    val full = CborChainGen.generate(14, seed = 8)
    val (chain, ext) = full.splitAt(10)
    val server = new MuxChainSyncServer(chain, followable = true)
    try {
      val it = new MuxChainProvider("127.0.0.1", server.port,
        followTip = true).startChainSync(Seq.empty)
      val catchUp = (0 to 10).map(_ => it.next())
      assert(catchUp.head.isInstanceOf[RollBack])
      assert(catchUp.collect { case RollForward(b) => b } == chain.map(_._2))
      val ranges0 = server.rangeRequests
      ext.foreach { case (w, b) => server.append(w, b) }
      // each live block takes the full two-protocol round trip:
      // awaited header reply over chain-sync, then its BODY over a new
      // BlockFetch range against the appended index
      val live = (0 until 4).map(_ => it.next())
      assert(live.collect { case RollForward(b) => b } == ext.map(_._2),
        "appended blocks must flow headers-then-bodies through the mux")
      assert(server.rangeRequests > ranges0,
        "live bodies must have been range-fetched, not replayed")
      it.asInstanceOf[AutoCloseable].close()
    } finally server.close()
  }

  test("a batch (AvailableNow) client terminates cleanly against a FOLLOWABLE mux server") {
    val chain = CborChainGen.generate(10, seed = 77)
    val server = new MuxChainSyncServer(chain, followable = true)
    try {
      val events = new MuxChainProvider("127.0.0.1", server.port)
        .startChainSync(Seq.empty).toVector // followTip = false
      assert(events.collect { case RollForward(b) => b } == chain.map(_._2))
    } finally server.close()
  }

  test("a follower connecting AFTER appends replays them, bodies included") {
    val full = CborChainGen.generate(14, seed = 79)
    val (chain, ext) = full.splitAt(10)
    val server = new MuxChainSyncServer(chain, followable = true)
    try {
      ext.foreach { case (w, b) => server.append(w, b) }
      val events = new MuxChainProvider("127.0.0.1", server.port)
        .startChainSync(Seq.empty).toVector
      assert(events.collect { case RollForward(b) => b } == full.map(_._2),
        "appended blocks must replay with headers AND range-fetched bodies")
    } finally server.close()
  }

  test("LIVE indexing over the mux: headers+bodies follow the tip into the UTxO graph") {
    val sp = spark
    val full = CborChainGen.generate(18, seed = 89)
    val (chain, ext) = full.splitAt(11)
    val watched = CborChainGen.Watched
    val oracle = CborChainGen.balanceOracle(full, watched)
    val server = new MuxChainSyncServer(chain, followable = true)
    try {
      val reducers = Seq(
        new graft.operators.BlockSummaryReducer,
        new graft.operators.TxIndexReducer,
        new graft.operators.WalletUtxoReducer(watched),
        new graft.operators.BalanceSnapshotReducer(watched))
      val store = new graft.core.StateStore(tmpDir("live-mux-store"), sp)
      val runner = new graft.core.GraphRunner(sp, store, reducers,
        batchSize = 1)
      @volatile var err: Throwable = null
      val worker = new Thread(() =>
        try ProviderSync.run(runner,
          new MuxChainProvider("127.0.0.1", server.port, followTip = true))
        catch { case t: Throwable => err = t }, "live-mux-worker")
      worker.start()
      ext.foreach { case (w, b) => server.append(w, b) }
      val lastSlot = full.last._2.slot
      val want = oracle.toMap.apply(lastSlot)
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      var got: Map[String, Long] = Map.empty
      while (got != want && System.nanoTime() < deadline && err == null) {
        got = store.read("balance_snapshots",
            reducers(3).tables.head.schema)
          .filter(org.apache.spark.sql.functions.col("slot") === lastSlot)
          .collect()
          .map(r => r.getString(1) -> r.getLong(4)).toMap
        if (got != want) Thread.sleep(200)
      }
      if (err != null) throw err
      assert(got == want, s"live mux tip never converged: $got vs $want")
    } finally server.close()
  }
}
