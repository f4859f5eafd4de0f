package graft.sources

import graft.core._
import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import scala.collection.mutable

/** Chain-sync messages, from the PUBLIC node-to-node CDDL
  * (ouroboros-network spec):
  *
  *   msgRequestNext       = [0]
  *   msgAwaitReply        = [1]
  *   msgRollForward       = [2, header, tip]
  *   msgRollBackward      = [3, point, tip]
  *   msgFindIntersect     = [4, [point+]]
  *   msgIntersectFound    = [5, point, tip]
  *   msgIntersectNotFound = [6, tip]
  *   point                = [] / [slot, hash-bytes] ; [] = origin
  */
object ChainSyncWire {
  val MsgRequestNext = 0L
  val MsgAwaitReply = 1L
  val MsgRollForward = 2L
  val MsgRollBackward = 3L
  val MsgFindIntersect = 4L
  val MsgIntersectFound = 5L
  val MsgIntersectNotFound = 6L

  // hashes on this wire are the CONTENT-DERIVED hex digests real CBOR
  // blocks carry (BLAKE2b-256), through CborBlock's strict hex helpers —
  // a non-hex id has no place in the protocol and fails loudly there
  def pointCbor(w: CborWriter, p: Option[Point]): Unit = p match {
    case None => w.arrayHeader(0) // origin
    case Some(pt) =>
      w.arrayHeader(2)
      w.uint(pt.slot)
      w.bytes(CborBlock.unhex(pt.hash))
  }

  def readPoint(r: CborReader): Option[Point] =
    r.readArrayHeader() match {
      case 0 => None
      case 2 =>
        val slot = r.readUInt()
        val hash = CborBlock.hex(r.readBytes())
        Some(Point(hash, slot))
      case n => throw new IllegalArgumentException(s"point arity $n")
    }
}

/** What the server replays after the negotiated intersection. Rollback
  * points map to engine events as `ArgusUtil.RollBackwardResponse`
  * does: a specific point ⇒ Exclusive (the point itself survives),
  * origin ⇒ Inclusive at slot 0.
  */
sealed trait ServedEvent
final case class ServeForward(wire: Array[Byte], block: Block) extends ServedEvent
final case class ServeBack(point: Point) extends ServedEvent

/** The node-to-node bearer: the reference's N2N source does NOT stream
  * whole blocks over chain-sync; it runs TWO mini-protocols over ONE
  * bearer — chain-sync serves HEADERS, BlockFetch fetches the BODIES
  * for each contiguous header run as one range — multiplexed by the
  * Ouroboros mux (`N2NProvider.cs:89-215`). This file re-expresses that
  * shape over a real loopback socket, from the PUBLIC specs:
  *
  *   - mux frame (network-mux spec): 4-byte transmission timestamp
  *     (lower 32 bits of microseconds), 2-byte mini-protocol id (bit 15
  *     = responder direction), 2-byte payload length, payload. A
  *     message larger than the segment limit is SPLIT across frames;
  *     the receiver reassembles per protocol and re-derives message
  *     boundaries from CBOR item completeness — exactly how the real
  *     demuxer's consumers work (the spec-pinned segmentation test
  *     shrinks the limit to force multi-frame messages).
  *   - handshake (mini-protocol 0, [[HandshakeWire]]) negotiates
  *     version + networkMagic before chain-sync or BlockFetch may speak.
  *   - chain-sync messages are [[ChainSyncWire]]'s public CDDL;
  *     RollForward here carries the HEADER POINT (slot + hash — the
  *     fields `TryExtractHeaderPoint` consumes), not the block.
  *   - BlockFetch (public CDDL): msgRequestRange = [0, point, point],
  *     msgClientDone = [1], msgStartBatch = [2], msgNoBlocks = [3],
  *     msgBlock = [4, blockBytes], msgBatchDone = [5].
  *
  * The DEADLOCK-AVOIDANCE DISCIPLINE is the load-bearing part and is
  * enforced in code exactly as the reference documents it: each
  * iteration sends a batch of RequestNexts sized by the adaptive depth,
  * drains ALL of them to zero (buffering header runs and rollback
  * markers in order), and only then opens BlockFetch for the collected
  * runs — the two mini-protocols share one demuxer, so the client must
  * never hold the BlockFetch stream open while chain-sync responses
  * are still arriving. A rollback closes the current run first, so the
  * pre-rollback run is fetched and yielded before the rollback event
  * (the reference's ChainEvent buffering).
  *
  * MsgAwaitReply is NON-TERMINAL when the server is `followable` and
  * the client `followTip` — a request that reaches the tip is answered
  * with AwaitReply and then its REAL header reply when the chain grows
  * (`append`), the reference's keep-following semantics
  * (`N2NProvider.cs:141-143`). Default mode is batch-terminal
  * (AvailableNow catch-up). Both ends run in-process: there is no live
  * node to dial.
  */
object Mux {
  val ProtoChainSync = 2 // node-to-node chain-sync mini-protocol id
  val ProtoBlockFetch = 3 // block-fetch mini-protocol id
  val ResponderBit = 0x8000
  val MaxSegment = 0xffff // spec maximum payload per frame

  def writeMsg(out: DataOutputStream, proto: Int, responder: Boolean,
      payload: Array[Byte], maxSeg: Int = MaxSegment): Unit = {
    val id = if (responder) proto | ResponderBit else proto
    var off = 0
    // a zero-length message still sends one frame
    do {
      val n = math.min(maxSeg, payload.length - off)
      out.writeInt((System.nanoTime() / 1000L).toInt) // wrapping u32 µs
      out.writeShort(id)
      out.writeShort(n)
      out.write(payload, off, n)
      off += n
    } while (off < payload.length)
  }

  /** One raw frame: (protocolId, responderFlag, bytes). */
  def readFrame(in: DataInputStream): (Int, Boolean, Array[Byte]) = {
    in.readInt() // timestamp: load-bearing only for tracing, skipped
    val id = in.readUnsignedShort()
    val n = in.readUnsignedShort()
    val buf = new Array[Byte](n)
    in.readFully(buf)
    (id & ~ResponderBit, (id & ResponderBit) != 0, buf)
  }

  /** Byte length of the first COMPLETE CBOR item in `b`, if any.
    * Truncation ⇒ None (wait for more frames); any other parse failure
    * ⇒ corrupt stream, fail loudly.
    */
  def completeItemLength(b: Array[Byte]): Option[Int] = {
    if (b.isEmpty) return None
    val r = new CborReader(b)
    try {
      r.skipItem()
      Some(r.pos)
    } catch {
      case e: RuntimeException
          if e.getMessage != null && e.getMessage.startsWith("truncated") =>
        None
    }
  }
}

/** Per-protocol reassembly over one mux bearer: frames append to their
  * protocol's buffer; `nextMessage(proto)` blocks until that protocol's
  * buffer holds a complete CBOR item (frames for OTHER protocols keep
  * accumulating in their own buffers — the demux half of the mux).
  */
final class MuxDemux(in: DataInputStream) {
  private val bufs = mutable.Map[Int, ByteArrayOutputStream]()

  private def bufFor(proto: Int): ByteArrayOutputStream =
    bufs.getOrElseUpdate(proto, new ByteArrayOutputStream())

  private def takeComplete(proto: Int): Option[Array[Byte]] = {
    val b = bufFor(proto).toByteArray
    Mux.completeItemLength(b).map { n =>
      val msg = java.util.Arrays.copyOf(b, n)
      val rest = new ByteArrayOutputStream()
      rest.write(b, n, b.length - n)
      bufs(proto) = rest
      msg
    }
  }

  private def pullFrame(): Unit = {
    bufs.values.foreach(b =>
      require(b.size <= 64 * 1024 * 1024, "reassembly buffer overflow"))
    val (p, _, frame) = Mux.readFrame(in)
    bufFor(p).write(frame, 0, frame.length)
  }

  def nextMessage(proto: Int): Array[Byte] = {
    var msg = takeComplete(proto)
    while (msg.isEmpty) {
      pullFrame()
      msg = takeComplete(proto)
    }
    msg.get
  }

  /** Non-blocking variant: a complete `proto` message from the buffer,
    * pulling further frames only while at least `minAvailable` bytes
    * are already on the socket (a complete small frame): exact on
    * loopback, where frames arrive whole; on a chunking bearer a split
    * frame is simply not pulled this round, so a drain built on it
    * counts a LOWER bound and never blocks mid-frame.
    */
  def tryNextMessage(proto: Int, minAvailable: Int): Option[Array[Byte]] = {
    var m = takeComplete(proto)
    while (m.isEmpty && in.available() >= minAvailable) {
      pullFrame()
      m = takeComplete(proto)
    }
    m
  }

  def availableBytes: Int = in.available()

  /** Next complete message from WHICHEVER protocol completes first —
    * the server's read loop (a mux server listens on all of them).
    */
  def pollAny(): (Int, Array[Byte]) = {
    while (true) {
      bufs.keys.toSeq.sorted.foreach { p =>
        takeComplete(p) match {
          case Some(m) => return (p, m)
          case None => ()
        }
      }
      pullFrame()
    }
    throw new IllegalStateException("unreachable")
  }
}

object BlockFetchWire {
  val MsgRequestRange = 0L
  val MsgClientDone = 1L
  val MsgStartBatch = 2L
  val MsgNoBlocks = 3L
  val MsgBlock = 4L
  val MsgBatchDone = 5L
}

/** Loopback mux SERVER: the node side of headers-over-chain-sync +
  * bodies-over-BlockFetch. Chain-sync RollForward carries the header
  * point; RequestRange serves the scripted run between its endpoints
  * as real CBOR block bodies. Records per-protocol frame counts and
  * the chain-sync pipelining high-water mark so the spec can prove
  * both protocols actually multiplexed over one socket.
  */
final class MuxChainSyncServer(
    chain: Seq[(Array[Byte], Block)],
    script: Option[Seq[ServedEvent]] = None,
    maxSegment: Int = Mux.MaxSegment,
    networkMagic: Long = HandshakeWire.DefaultMagic,
    versions: Seq[Long] = HandshakeWire.DefaultVersions,
    followable: Boolean = false) {
  import ChainSyncWire._
  import BlockFetchWire._

  require(chain.nonEmpty, "server needs a non-empty chain")
  private val server =
    new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort

  @volatile var maxInflight: Int = 0
  @volatile var chainSyncFrames: Int = 0
  @volatile var blockFetchFrames: Int = 0
  @volatile var handshakeFrames: Int = 0
  @volatile var rangeRequests: Int = 0
  @volatile var negotiatedVersion: Long = -1L // spec observability
  @volatile private var running = true

  private val bySlot =
    scala.collection.concurrent.TrieMap(
      chain.map { case (_, b) => b.slot -> b.hash }: _*)
  @volatile private var tipPt = Point(chain.last._2.hash, chain.last._2.slot)
  private def tipPoint = tipPt

  // the scripted forward set, shared by every connection; live appends
  // extend it so BlockFetch can serve the new bodies too
  private val events0: Seq[ServedEvent] = script.getOrElse(
    chain.map { case (wire, b) => ServeForward(wire, b) })
  private val forwardsAll = scala.collection.mutable.ArrayBuffer[ServeForward](
    events0.collect { case f: ServeForward => f }: _*)
  private val idxByHash = scala.collection.concurrent.TrieMap(
    forwardsAll.zipWithIndex.map { case (f, i) => f.block.hash -> i }.toSeq: _*)

  // live-tip feeds (non-terminal MsgAwaitReply — the reference's
  // keep-following semantics, N2NProvider.cs:141-143), ONE QUEUE PER
  // CONNECTION: registered at FindIntersect under the server lock,
  // atomically with the replay snapshot — a block appended before the
  // snapshot is IN it (forwardsAll extends the replay source, not just
  // the body index), one appended after arrives on that connection's
  // own queue; a dead connection can neither steal nor lose another
  // follower's events
  private val followers = scala.collection.mutable.Buffer[
    java.util.concurrent.LinkedBlockingQueue[ServedEvent]]()

  /** Extend the canonical chain; followers at the tip are fed live. */
  def append(wire: Array[Byte], block: Block): Unit = synchronized {
    require(followable, "append on a non-followable server")
    bySlot.put(block.slot, block.hash)
    tipPt = Point(block.hash, block.slot)
    val f = ServeForward(wire, block)
    idxByHash.put(block.hash, forwardsAll.size)
    forwardsAll += f
    followers.foreach(_.put(f))
  }

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), "mux-conn")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: Exception => if (running) Thread.sleep(50)
      }
    }
  }, "mux-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = {
    running = false
    server.close()
  }

  private def handle(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    var events: Seq[ServedEvent] = Seq.empty
    var cursor = 0
    var pendingRollback: Option[Option[Point]] = None
    var pending = 0
    var firstBurst = true
    // requests answered MsgAwaitReply whose REAL reply is still owed;
    // the pump thread pays them from the live queue in FIFO order
    val owed = new java.util.concurrent.atomic.AtomicInteger(0)
    // this connection's live feed (see `followers`)
    val myLive = new java.util.concurrent.LinkedBlockingQueue[ServedEvent]()
    // bumped (under the server lock) by the re-intersect drain: the
    // pump compares it around its dequeue so an event pulled JUST
    // before a drain is discarded instead of served after the new
    // snapshot (clearing the queue and the owed count alone leaves
    // that window open)
    val liveGen = new java.util.concurrent.atomic.AtomicInteger(0)
    var registered = false

    // every message writes atomically under the out lock: in follow
    // mode TWO threads write — the reader (bursts, BlockFetch batches)
    // and the live pump (owed replies). Message-level interleaving
    // across protocols is legal mux behavior (the demux reassembles
    // per protocol); torn frames are not.
    def send(proto: Int, payload: Array[Byte]): Unit = out.synchronized {
      // count actual FRAMES on the wire, not messages — under a small
      // segment limit one message emits many frames
      val frames = math.max(1,
        (payload.length + maxSegment - 1) / maxSegment)
      if (proto == Mux.ProtoChainSync) chainSyncFrames += frames
      else if (proto == Mux.ProtoBlockFetch) blockFetchFrames += frames
      else handshakeFrames += frames
      Mux.writeMsg(out, proto, responder = true, payload, maxSegment)
    }
    def tipTo(w: CborWriter): Unit = pointCbor(w, Some(tipPoint))

    def serveEvent(w: CborWriter, ev: ServedEvent): Unit = ev match {
      case ServeForward(_, b) =>
        // HEADER, not body: the point the reference's
        // TryExtractHeaderPoint pulls from the header payload
        w.arrayHeader(3); w.uint(MsgRollForward)
        pointCbor(w, Some(Point(b.hash, b.slot))); tipTo(w)
      case ServeBack(p) =>
        w.arrayHeader(3); w.uint(MsgRollBackward)
        pointCbor(w, Some(p)); tipTo(w)
    }

    def respondOne(): Unit = {
      val w = new CborWriter
      pendingRollback match {
        case Some(p) =>
          w.arrayHeader(3); w.uint(MsgRollBackward)
          pointCbor(w, p); tipTo(w)
          pendingRollback = None
        case None if cursor < events.size =>
          serveEvent(w, events(cursor))
          cursor += 1
        case None if followable =>
          // live tip: AwaitReply now; the SAME request's real header
          // reply is OWED and goes out from the pump thread when the
          // chain grows (MustReply semantics). The reader thread must
          // NOT park here — BlockFetch ranges for already-delivered
          // runs still arrive on this socket and must be served while
          // chain-sync awaits; interleaving them is what the mux is for
          w.arrayHeader(1); w.uint(MsgAwaitReply)
          out.synchronized {
            send(Mux.ProtoChainSync, w.result()); out.flush()
            owed.incrementAndGet()
          }
          return
        case None =>
          w.arrayHeader(1); w.uint(MsgAwaitReply)
      }
      out.synchronized(send(Mux.ProtoChainSync, w.result()))
    }

    try {
      val demux = new MuxDemux(in)
      // handshake FIRST, on its own mini-protocol id (0): chain-sync
      // and BlockFetch may not speak before version+magic agreement
      val (p0, proposal) = demux.pollAny()
      require(p0 == HandshakeWire.ProtoHandshake,
        s"first message must be handshake, got protocol $p0")
      val (reply, agreedVersion) =
        try HandshakeWire.negotiate(proposal, versions, networkMagic)
        catch {
          case e: Exception =>
            (HandshakeWire.refuseDecodeError(versions.max,
              String.valueOf(e.getMessage)), None)
        }
      send(HandshakeWire.ProtoHandshake, reply); out.flush()
      if (agreedVersion.isEmpty) return // refused: connection is over
      negotiatedVersion = agreedVersion.get

      if (followable) {
        // live pump: pays owed (awaited) chain-sync replies as the
        // chain grows, while the reader thread keeps serving BlockFetch
        val pump = new Thread(() => {
          try {
            while (running && !sock.isClosed) {
              if (owed.get > 0) {
                // capture the generation BEFORE the dequeue; the
                // send+decrement re-check it under the server lock, so
                // a re-intersect drain either completes first (stale
                // gen ⇒ the event is already in the rebuilt snapshot —
                // discard it, don't decrement) or waits for this send
                // (a pre-rollback serve, legal) — never a double-serve,
                // never an owed underflow to -1
                val g = liveGen.get
                val ev = myLive.poll(50,
                  java.util.concurrent.TimeUnit.MILLISECONDS)
                if (ev != null) MuxChainSyncServer.this.synchronized {
                  if (liveGen.get == g && owed.get > 0) {
                    out.synchronized {
                      val w = new CborWriter
                      serveEvent(w, ev)
                      send(Mux.ProtoChainSync, w.result())
                      out.flush()
                    }
                    owed.decrementAndGet()
                  }
                }
              } else Thread.sleep(10)
            }
          } catch { case _: Exception => () } // connection gone
        }, "mux-live-pump")
        pump.setDaemon(true)
        pump.start()
      }

      var open = true
      while (open) {
        // a mux server reads from BOTH mini-protocols; message arrival
        // order decides which one speaks (readFrame inside the demux)
        val (proto, msg) = demux.pollAny()
        val r = new CborReader(msg)
        r.readArrayHeader()
        (proto, r.readUInt()) match {
          case (Mux.ProtoChainSync, MsgFindIntersect) =>
            val n = r.readArrayHeader()
            val candidates = (0 until n).map(_ => readPoint(r))
            val specific = candidates.flatten
            val agreed = specific.sortBy(-_.slot)
              .find(p => bySlot.get(p.slot).contains(p.hash))
            val hasOrigin = candidates.contains(None)
            val w = new CborWriter
            if (agreed.isDefined || hasOrigin) {
              w.arrayHeader(3); w.uint(MsgIntersectFound)
              pointCbor(w, agreed); tipTo(w)
              pendingRollback = Some(agreed)
              val from = agreed.map(_.slot).getOrElse(-1L)
              // snapshot + follower registration are ATOMIC vs append:
              // an appended block lands either in this snapshot (via
              // forwardsAll) or on myLive, never both, never neither
              events = MuxChainSyncServer.this.synchronized {
                if (followable && !registered) {
                  followers += myLive
                  registered = true
                } else if (registered) {
                  // RE-intersect on a live connection: the new snapshot
                  // is rebuilt from forwardsAll, which already contains
                  // any blocks queued on myLive — drain the queue (and
                  // cancel owed awaits) under the same lock or those
                  // blocks would be served twice (snapshot replay AND
                  // pump delivery)
                  myLive.clear()
                  owed.set(0)
                  // invalidate any event the pump dequeued before this
                  // drain but has not yet sent (it re-checks under this
                  // same lock) — without the bump that event goes out
                  // AFTER the new snapshot: the exact double-serve the
                  // drain exists to prevent
                  liveGen.incrementAndGet()
                }
                if (script.isDefined) events0
                else forwardsAll.toVector.collect {
                  case f if f.block.slot > from => f
                }
              }
              cursor = 0
            } else {
              w.arrayHeader(2); w.uint(MsgIntersectNotFound); tipTo(w)
            }
            send(Mux.ProtoChainSync, w.result())
            out.flush()
          case (Mux.ProtoChainSync, MsgRequestNext) =>
            pending += 1
            // the client's OPENING window goes out in one flush, but on
            // a loaded host loopback delivery can lag this read — settle
            // until the available byte count stops growing (bounded
            // ~100ms, once per connection) so the opening burst's
            // high-water mark is not a timing race
            if (firstBurst) {
              firstBurst = false
              var last = -1
              var stable = 0
              val deadline = System.nanoTime() + 100L * 1000 * 1000
              while (stable < 3 && System.nanoTime() < deadline) {
                val a = demux.availableBytes
                if (a == last) stable += 1 else { stable = 0; last = a }
                Thread.sleep(2)
              }
            }
            // drain every RequestNext already on the wire: a mux
            // RequestNext frame is 8-byte header + [0] = 10 bytes
            var m = demux.tryNextMessage(Mux.ProtoChainSync, 10)
            while (m.isDefined) {
              val rr = new CborReader(m.get)
              rr.readArrayHeader()
              require(rr.readUInt() == MsgRequestNext)
              pending += 1
              m = demux.tryNextMessage(Mux.ProtoChainSync, 10)
            }
            maxInflight = math.max(maxInflight, pending)
            while (pending > 0) {
              respondOne()
              pending -= 1
            }
            out.flush()
          case (Mux.ProtoBlockFetch, MsgRequestRange) =>
            rangeRequests += 1
            val first = readPoint(r).getOrElse(
              throw new IllegalArgumentException("range from origin"))
            val last = readPoint(r).getOrElse(
              throw new IllegalArgumentException("range to origin"))
            (idxByHash.get(first.hash), idxByHash.get(last.hash)) match {
              case (Some(i), Some(j)) if i <= j =>
                val w0 = new CborWriter
                w0.arrayHeader(1); w0.uint(MsgStartBatch)
                send(Mux.ProtoBlockFetch, w0.result())
                (i to j).foreach { k =>
                  val wb = new CborWriter
                  wb.arrayHeader(2); wb.uint(MsgBlock)
                  wb.bytes(
                    MuxChainSyncServer.this.synchronized(forwardsAll(k)).wire)
                  send(Mux.ProtoBlockFetch, wb.result())
                }
                val wd = new CborWriter
                wd.arrayHeader(1); wd.uint(MsgBatchDone)
                send(Mux.ProtoBlockFetch, wd.result())
              case _ =>
                val w0 = new CborWriter
                w0.arrayHeader(1); w0.uint(MsgNoBlocks)
                send(Mux.ProtoBlockFetch, w0.result())
            }
            out.flush()
          case (Mux.ProtoBlockFetch, MsgClientDone) =>
            open = false
          case (p, m) =>
            throw new IllegalArgumentException(s"unexpected ($p, $m)")
        }
      }
    } catch {
      case _: EOFException | _: java.net.SocketException => () // client left
      case e: Exception => if (running) throw e
    } finally {
      MuxChainSyncServer.this.synchronized { followers -= myLive }
      sock.close()
    }
  }

}

/** Mux client behind the [[ChainProvider]] seam — the reference's N2N
  * pipelined loop: per iteration, a batch of `adaptivePipelineDepth`
  * RequestNexts goes out, EVERYTHING drains to zero (header runs and
  * rollbacks buffered in order, a rollback closing the current run
  * first), and only then each contiguous run's bodies are fetched as
  * ONE BlockFetch range over the same socket and yielded in chain
  * order. The drain-to-zero precondition is asserted in code before
  * every RequestRange — the documented deadlock-freedom discipline.
  */
final class MuxChainProvider(host: String, port: Int, maxDepth: Int = 20,
    networkMagic: Long = HandshakeWire.DefaultMagic,
    proposeVersions: Seq[Long] = HandshakeWire.DefaultVersions,
    followTip: Boolean = false)
    extends ChainProvider {
  import ChainSyncWire._
  import BlockFetchWire._

  /** Version agreed on the most recent connection (spec observability). */
  @volatile var lastNegotiatedVersion: Long = -1L

  private def handshake(out: DataOutputStream, demux: MuxDemux): Unit =
    lastNegotiatedVersion = HandshakeWire.clientHandshake(
      p => {
        Mux.writeMsg(out, HandshakeWire.ProtoHandshake,
          responder = false, p)
        out.flush()
      },
      () => demux.nextMessage(HandshakeWire.ProtoHandshake),
      networkMagic, proposeVersions)

  def startChainSync(candidates: Seq[Point]): Iterator[BlockEvent] = {
    val sock = new Socket(InetAddress.getByName(host), port)
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    val demux = new MuxDemux(in)

    def sendCs(payload: Array[Byte]): Unit =
      Mux.writeMsg(out, Mux.ProtoChainSync, responder = false, payload)
    def sendBf(payload: Array[Byte]): Unit =
      Mux.writeMsg(out, Mux.ProtoBlockFetch, responder = false, payload)

    // the handshake and the whole intersect exchange close the socket on
    // ANY failure, not just the decoded IntersectNotFound/unexpected-reply
    // arms: a refusal, a failed write, or a reply that fails CBOR decode
    // would otherwise leak the connection (and the server's handler
    // thread) on every retry
    var tipSlot = 0L
    try {
      handshake(out, demux)
      val w = new CborWriter
      w.arrayHeader(2); w.uint(MsgFindIntersect)
      if (candidates.isEmpty) { w.arrayHeader(1); pointCbor(w, None) }
      else {
        w.arrayHeader(candidates.size)
        candidates.sortBy(-_.slot).foreach(p => pointCbor(w, Some(p)))
      }
      sendCs(w.result()); out.flush()
      val r0 = new CborReader(demux.nextMessage(Mux.ProtoChainSync))
      r0.readArrayHeader()
      r0.readUInt() match {
        case MsgIntersectFound =>
          readPoint(r0) // opening MsgRollBackward re-delivers it
          tipSlot = readPoint(r0).map(_.slot).getOrElse(0L)
        case MsgIntersectNotFound =>
          throw new IllegalStateException(
            s"Failed to find any valid intersection point. All " +
              s"${candidates.size} saved intersection(s) have been rolled " +
              "back. Consider resetting the reducer state or increasing " +
              "the rollback buffer size.")
        case other =>
          throw new IllegalStateException(s"unexpected reply $other")
      }
    } catch { case e: Throwable => sock.close(); throw e }

    new Iterator[BlockEvent] with AutoCloseable {
      private var drained = false
      private var finished = false // ClientDone sent, socket closed
      private var lastSlot = -1L
      private val queue = mutable.Queue[BlockEvent]()
      // carried across refills in follow mode: requests outstanding on
      // the wire, and how many of them the server has answered
      // MsgAwaitReply (their REAL reply arrives when the tip grows)
      private var inflight = 0
      private var awaits = 0

      def close(): Unit =
        try sock.close() catch { case _: Exception => () }

      /** One reference-shaped iteration: batch → drain → fetch runs →
        * enqueue events in chain order. Batch mode drains to ZERO
        * before any BlockFetch; follow mode drains until every
        * remaining outstanding request is AWAITED at the tip (their
        * replies arrive only when the chain grows — that is the
        * condition under which a live N2N client opens BlockFetch).
        */
      private def refill(): Unit = {
        if (drained) return
        val gap = math.max(tipSlot - lastSlot, 0L)
        val target = ChainProvider.adaptivePipelineDepth(maxDepth, gap)
        var toSend = math.max(0, target - inflight)
        (1 to toSend).foreach { _ =>
          val rq = new CborWriter
          rq.arrayHeader(1); rq.uint(MsgRequestNext)
          sendCs(rq.result())
          inflight += 1
        }
        out.flush()
        var events = Vector.empty[Either[Vector[Point], BlockEvent]]
        var run = Vector.empty[Point]
        // follow mode stops when all outstanding requests are awaited
        // AND there is something to yield; a refill entered with
        // everything awaited and nothing buffered BLOCKS here until
        // the server's live pump answers (the keep-following shape)
        def followStop: Boolean = followTip && inflight == awaits &&
          (run.nonEmpty || events.nonEmpty)
        while (inflight > awaits || (followTip && inflight > 0 && !followStop)) {
          val r = new CborReader(demux.nextMessage(Mux.ProtoChainSync))
          r.readArrayHeader()
          r.readUInt() match {
            case MsgRollForward =>
              inflight -= 1
              if (awaits > 0) awaits -= 1 // the oldest awaited is paid
              val hp = readPoint(r).getOrElse(
                throw new IllegalStateException("headerless roll-forward"))
              tipSlot = readPoint(r).map(_.slot).getOrElse(tipSlot)
              run :+= hp
              lastSlot = hp.slot
            case MsgRollBackward =>
              inflight -= 1
              if (awaits > 0) awaits -= 1
              // close the contiguous run BEFORE the rollback so it is
              // fetched and yielded first (the reference's ordering)
              if (run.nonEmpty) { events :+= Left(run); run = Vector.empty }
              val p = readPoint(r)
              tipSlot = readPoint(r).map(_.slot).getOrElse(tipSlot)
              events :+= Right(p match {
                case Some(pt) => lastSlot = pt.slot; RollBack(pt, Exclusive)
                case None =>
                  lastSlot = -1L; RollBack(Point("origin", 0L), Inclusive)
              })
            case MsgAwaitReply =>
              if (followTip)
                // live mode: the awaited request's real header reply is
                // still owed (MustReply); the server's pump answers
                // when the tip grows
                awaits += 1
              else {
                // catch-up complete: AvailableNow semantics. The FIRST
                // await ends the whole batch (a followable server pays
                // the rest only as the chain grows — draining them
                // would deadlock a batch client); stale await replies
                // die with the connection after ClientDone
                inflight = 0
                awaits = 0
                drained = true
              }
            case other =>
              throw new IllegalStateException(s"unexpected message $other")
          }
        }
        if (run.nonEmpty) events :+= Left(run)
        // drained to the mode's bar — NOW BlockFetch each run: zero
        // outstanding in batch mode; only AWAITED outstanding in follow
        // mode (the server's reader thread serves ranges while its pump
        // owes those replies — mux interleaving, the point of the mux)
        require(inflight == (if (followTip) awaits else 0),
          "BlockFetch with answerable chain-sync outstanding")
        events.foreach {
          case Right(ev) => queue += ev
          case Left(points) =>
            val rq = new CborWriter
            rq.arrayHeader(3); rq.uint(MsgRequestRange)
            pointCbor(rq, Some(points.head)); pointCbor(rq, Some(points.last))
            sendBf(rq.result()); out.flush()
            val s0 = new CborReader(demux.nextMessage(Mux.ProtoBlockFetch))
            s0.readArrayHeader()
            s0.readUInt() match {
              case MsgStartBatch =>
                var more = true
                while (more) {
                  val rb = new CborReader(
                    demux.nextMessage(Mux.ProtoBlockFetch))
                  rb.readArrayHeader()
                  rb.readUInt() match {
                    case MsgBlock =>
                      CborBlock.decode(rb.readBytes()) match {
                        case Some((_, b)) => queue += RollForward(b)
                        case None => () // undecodable: null-and-skip
                      }
                    case MsgBatchDone => more = false
                    case other =>
                      throw new IllegalStateException(s"batch msg $other")
                  }
                }
              case MsgNoBlocks =>
                throw new IllegalStateException(
                  s"server has no bodies for run ${points.head}..${points.last}")
              case other =>
                throw new IllegalStateException(s"range reply $other")
            }
        }
      }

      private def pump(): Unit = try {
        if (finished) return // idempotent past exhaustion: a second
        // hasNext()/next() must answer from state, not write on the
        // closed socket
        while (queue.isEmpty && !drained) refill()
        if (queue.isEmpty && drained) {
          finished = true
          val done = new CborWriter
          done.arrayHeader(1); done.uint(MsgClientDone)
          sendBf(done.result()); out.flush()
          close()
        }
      } catch { case e: Throwable => finished = true; close(); throw e }

      def hasNext: Boolean = {
        pump()
        queue.nonEmpty
      }

      def next(): BlockEvent = {
        pump()
        if (queue.isEmpty) throw new NoSuchElementException
        queue.dequeue()
      }
    }
  }

  def tip: Option[Point] = {
    val sock = new Socket(InetAddress.getByName(host), port)
    try {
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      val demux = new MuxDemux(in)
      handshake(out, demux) // every connection negotiates first
      val w = new CborWriter
      w.arrayHeader(2); w.uint(MsgFindIntersect)
      w.arrayHeader(1); pointCbor(w, None)
      Mux.writeMsg(out, Mux.ProtoChainSync, responder = false, w.result())
      out.flush()
      val r = new CborReader(demux.nextMessage(Mux.ProtoChainSync))
      r.readArrayHeader()
      r.readUInt()
      readPoint(r) // intersection (origin)
      readPoint(r) // tip
    } finally sock.close()
  }
}
