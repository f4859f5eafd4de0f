package graft.sources

import graft.core._
import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}

/** A loopback U5C (UTxO RPC) bearer for the chain-sync seam — the S4
  * analogue of the mux chain-sync bearer: there is no gRPC stack and no
  * live Dolos/node offline, but the PROTOCOL CONTENT — protobuf-encoded
  * FollowTip messages, the Apply/Undo/Reset action triple, and the
  * reference's mapping of those actions onto engine rollback semantics
  * (`U5CProvider.cs:44-73`: Apply ⇒ RollForward, Undo ⇒ RollBack
  * Inclusive at the undone block's slot, Reset ⇒ RollBack Exclusive at
  * the reset point) — runs over a real socket and is spec-pinned end to
  * end.
  *
  * Wire shape, from the PUBLIC specs:
  *   - protobuf wire format (varint tags, length-delimited fields) is
  *     hand-rolled below — encoding spec at protobuf.dev;
  *   - each message rides in the gRPC MESSAGE frame: 1-byte compressed
  *     flag (0) + 4-byte big-endian length + payload. The HTTP/2
  *     transport a real gRPC channel multiplexes over is NOT
  *     implemented; stream end and error status — HTTP/2 trailers in
  *     real gRPC — are modeled as flag bytes 0xFF (ok) and 0xFE
  *     (error + utf8 message).
  *
  * Message model (utxorpc `sync` service, FollowTip):
  *   FollowTipRequest  { repeated BlockRef intersect = 1 }
  *   BlockRef          { uint64 index = 1; bytes hash = 2 }
  *   FollowTipResponse { oneof action:
  *                         AnyChainBlock apply = 1;
  *                         AnyChainBlock undo  = 2;
  *                         BlockRef      reset = 3 }
  *   AnyChainBlock     { bytes native_bytes = 1 }  // the field the
  *     reference consumes (`response.AppliedBlock!.NativeBytes`);
  *     the chain-specific decoded variants are not modeled.
  *
  * FollowTip is SERVER-STREAMING: after one request the server pushes
  * responses (no per-message client requests — flow control lives in
  * the absent HTTP/2 layer), so unlike the chain-sync bearer there is
  * no adaptive pipelining here; backpressure is the consumer's pull on
  * the socket buffer.
  */
object ProtoWire {

  /** Minimal protobuf writer: varints and length-delimited fields. */
  final class Writer {
    private val out = new ByteArrayOutputStream()

    def varint(v: Long): Writer = {
      var x = v
      while ((x & ~0x7fL) != 0) {
        out.write(((x & 0x7f) | 0x80).toInt)
        x >>>= 7
      }
      out.write((x & 0x7f).toInt)
      this
    }

    def tag(field: Int, wireType: Int): Writer =
      varint((field.toLong << 3) | wireType)

    def uint64(field: Int, v: Long): Writer = {
      tag(field, 0); varint(v)
    }

    def bytes(field: Int, b: Array[Byte]): Writer = {
      tag(field, 2); varint(b.length)
      out.write(b, 0, b.length)
      this
    }

    def message(field: Int, m: Writer): Writer = bytes(field, m.result)

    def result: Array[Byte] = out.toByteArray
  }

  /** Minimal protobuf reader over one message's bytes. */
  final class Reader(buf: Array[Byte]) {
    private var pos = 0

    def hasMore: Boolean = pos < buf.length

    def readVarint(): Long = {
      var shift = 0
      var v = 0L
      while (true) {
        require(pos < buf.length && shift < 64, "truncated varint")
        val b = buf(pos)
        pos += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      v
    }

    /** (field, wireType) of the next tag. */
    def readTag(): (Int, Int) = {
      val t = readVarint()
      ((t >>> 3).toInt, (t & 7).toInt)
    }

    def readBytes(): Array[Byte] = {
      val n = readVarint()
      require(n >= 0 && n <= buf.length - pos, s"bad length $n")
      val r = java.util.Arrays.copyOfRange(buf, pos, pos + n.toInt)
      pos += n.toInt
      r
    }

    /** Skip one field of the given wire type (unknown-field rule).
      * Fixed-width skips are bounds-checked like every other read — a
      * truncated frame must fail loudly, not parse to defaults.
      */
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 2 => readBytes()
      case 5 =>
        require(pos + 4 <= buf.length, "truncated fixed32")
        pos += 4
      case 1 =>
        require(pos + 8 <= buf.length, "truncated fixed64")
        pos += 8
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
  }
}

object U5cWire {
  import ProtoWire._

  // gRPC frame flags; 0xFF/0xFE stand in for HTTP/2 trailers (see doc)
  val FlagMessage = 0x00
  val FlagEndOk = 0xff
  val FlagEndError = 0xfe

  def writeFrame(out: DataOutputStream, flag: Int,
      payload: Array[Byte]): Unit = {
    out.writeByte(flag)
    out.writeInt(payload.length)
    out.write(payload)
  }

  /** (flag, payload). */
  def readFrame(in: DataInputStream): (Int, Array[Byte]) = {
    val flag = in.readUnsignedByte()
    val n = in.readInt()
    require(n >= 0 && n <= 64 * 1024 * 1024, s"frame length $n")
    val buf = new Array[Byte](n)
    in.readFully(buf)
    (flag, buf)
  }

  def blockRef(p: Point): Writer =
    // symmetric with readBlockRef: the "origin" sentinel travels as an
    // empty hash (unhex("origin") would throw — the codec must be able
    // to round-trip every Point the engine itself produces)
    new Writer().uint64(1, p.slot).bytes(2,
      if (p.hash == "origin") Array.emptyByteArray
      else CborBlock.unhex(p.hash))

  def readBlockRef(b: Array[Byte]): Point = {
    val r = new Reader(b)
    var slot = 0L
    var hash = ""
    while (r.hasMore) r.readTag() match {
      case (1, 0) => slot = r.readVarint()
      case (2, 2) => hash = CborBlock.hex(r.readBytes())
      case (_, w) => r.skip(w)
    }
    Point(if (hash.isEmpty) "origin" else hash, slot)
  }

  def followTipRequest(intersect: Seq[Point]): Array[Byte] = {
    val w = new Writer()
    intersect.foreach(p => w.message(1, blockRef(p)))
    w.result
  }

  def readFollowTipRequest(b: Array[Byte]): Seq[Point] = {
    val r = new Reader(b)
    val refs = Seq.newBuilder[Point]
    while (r.hasMore) r.readTag() match {
      case (1, 2) => refs += readBlockRef(r.readBytes())
      case (_, w) => r.skip(w)
    }
    refs.result()
  }

  private def anyChainBlock(nativeBytes: Array[Byte]): Writer =
    new Writer().bytes(1, nativeBytes)

  def applyResponse(wire: Array[Byte]): Array[Byte] =
    new Writer().message(1, anyChainBlock(wire)).result
  def undoResponse(wire: Array[Byte]): Array[Byte] =
    new Writer().message(2, anyChainBlock(wire)).result
  def resetResponse(p: Point): Array[Byte] =
    new Writer().message(3, blockRef(p)).result

  sealed trait TipAction
  final case class Apply(nativeBytes: Array[Byte]) extends TipAction
  final case class Undo(nativeBytes: Array[Byte]) extends TipAction
  final case class Reset(ref: Point) extends TipAction

  def readFollowTipResponse(b: Array[Byte]): TipAction = {
    val r = new Reader(b)
    var action: Option[TipAction] = None
    def native(m: Array[Byte]): Array[Byte] = {
      val mr = new Reader(m)
      var nb = Array.emptyByteArray
      while (mr.hasMore) mr.readTag() match {
        case (1, 2) => nb = mr.readBytes()
        case (_, w) => mr.skip(w)
      }
      nb
    }
    while (r.hasMore) r.readTag() match {
      case (1, 2) => action = Some(Apply(native(r.readBytes())))
      case (2, 2) => action = Some(Undo(native(r.readBytes())))
      case (3, 2) => action = Some(Reset(readBlockRef(r.readBytes())))
      case (_, w) => r.skip(w)
    }
    action.getOrElse(
      throw new IllegalArgumentException("FollowTipResponse with no action"))
  }
}

/** What a scripted U5C server pushes after the opening reset. */
sealed trait U5cEvent
final case class U5cApply(wire: Array[Byte]) extends U5cEvent
final case class U5cUndo(wire: Array[Byte]) extends U5cEvent
final case class U5cReset(ref: Point) extends U5cEvent

/** Loopback FollowTip SERVER — the node side: reads one
  * FollowTipRequest, resolves the newest intersect ref that is ON its
  * canonical chain (a real utxorpc server rejects an unknown ref with
  * a gRPC error status — modeled by the error trailer), acknowledges
  * with Reset(resolved) — the standard FollowTip opening that tells the
  * follower where the stream starts — then pushes Apply messages (or a
  * script with mid-stream Undo/Reset). Empty intersect = follow from
  * origin: Reset(slot 0, empty hash) then the whole chain.
  */
final class U5cServer(
    chain: Seq[(Array[Byte], Block)],
    script: Option[Seq[U5cEvent]] = None) {
  import U5cWire._

  require(chain.nonEmpty, "server needs a non-empty chain")
  private val server =
    new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort

  @volatile private var running = true
  private val bySlot = chain.map { case (_, b) => b.slot -> b.hash }.toMap

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), "u5c-conn")
        t.setDaemon(true)
        t.start()
      } catch {
        // backoff on a persistent accept failure (e.g. fd exhaustion):
        // a tight retry loop would pin a core and starve the recovery
        case _: Exception => if (running) Thread.sleep(50)
      }
    }
  }, "u5c-accept")
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
    try {
      val (flag, req) = readFrame(in)
      require(flag == FlagMessage, s"unexpected request flag $flag")
      val intersect = readFollowTipRequest(req)
      val agreed = intersect.sortBy(-_.slot)
        .find(p => bySlot.get(p.slot).contains(p.hash))
      if (intersect.nonEmpty && agreed.isEmpty) {
        writeFrame(out, FlagEndError,
          "no intersection on chain".getBytes("UTF-8"))
        out.flush()
        return
      }
      val start = agreed.getOrElse(Point("", 0L))
      writeFrame(out, FlagMessage, resetResponse(start))
      val events = script.getOrElse(
        chain.collect { case (wire, b) if b.slot > start.slot =>
          U5cApply(wire)
        })
      events.foreach {
        case U5cApply(wire) =>
          writeFrame(out, FlagMessage, applyResponse(wire))
        case U5cUndo(wire) =>
          writeFrame(out, FlagMessage, undoResponse(wire))
        case U5cReset(ref) =>
          writeFrame(out, FlagMessage, resetResponse(ref))
      }
      writeFrame(out, FlagEndOk, Array.emptyByteArray)
      out.flush()
    } catch {
      case _: EOFException | _: java.net.SocketException => () // client left
      case e: Exception => if (running) throw e
    } finally sock.close()
  }
}

/** U5C CLIENT behind the [[ChainProvider]] seam — the reference's
  * `U5CProvider` re-expressed over the loopback bearer. Action mapping
  * is EXACTLY `U5CProvider.cs:44-73`:
  *
  *   Apply ⇒ RollForward(decode(native_bytes));
  *   Undo  ⇒ RollBack(block's own point, INCLUSIVE) — the undone block
  *           itself is destroyed;
  *   Reset ⇒ RollBack(reset ref, EXCLUSIVE) — the ref survives, the
  *           stream resumes after it.
  *
  * Like the reference, the client sends its newest candidate forward
  * (`intersection.MaxBy(e => e.Slot)`); unlike chain-sync there is no
  * multi-candidate walk on this protocol — a dead ref surfaces as the
  * server's error status, mapped onto the engine's all-rolled-back
  * failure. Undecodable native_bytes are null-and-skipped, the
  * reference's `DeserializeBlockWithEra` null contract.
  */
final class U5cProvider(host: String, port: Int) extends ChainProvider {
  import U5cWire._

  def startChainSync(candidates: Seq[Point]): Iterator[BlockEvent] = {
    val sock = new Socket(InetAddress.getByName(host), port)
    // everything between connect and the iterator (whose pull() has its
    // own close-on-exception) must release the socket on failure, as the
    // mux provider's intersect exchange does: a stream-acquisition or
    // request-write failure here would otherwise leak the connection and
    // the server's handler thread
    val (in, out) =
      try {
        sock.setTcpNoDelay(true)
        val i = new DataInputStream(
          new BufferedInputStream(sock.getInputStream))
        val o = new DataOutputStream(
          new BufferedOutputStream(sock.getOutputStream))
        // the reference sends ONE ref: the newest candidate (MaxBy(Slot))
        val intersect = candidates.sortBy(-_.slot).take(1)
        writeFrame(o, FlagMessage, followTipRequest(intersect))
        o.flush()
        (i, o)
      } catch { case e: Throwable => sock.close(); throw e }

    new Iterator[BlockEvent] with AutoCloseable {
      private var done = false
      private var nextEvent: Option[BlockEvent] = None

      def close(): Unit =
        try sock.close() catch { case _: Exception => () }

      private def pull(): Unit = try {
        while (nextEvent.isEmpty && !done) {
          val (flag, payload) = readFrame(in)
          flag match {
            case FlagEndOk =>
              done = true
              close()
            case FlagEndError =>
              done = true
              close()
              throw new IllegalStateException(
                s"Failed to find any valid intersection point. All " +
                  s"${candidates.size} saved intersection(s) have been " +
                  "rolled back. Consider resetting the reducer state or " +
                  "increasing the rollback buffer size. " +
                  s"(server: ${new String(payload, "UTF-8")})")
            case FlagMessage =>
              readFollowTipResponse(payload) match {
                case Apply(nb) =>
                  CborBlock.decode(nb) match {
                    case Some((_, b)) => nextEvent = Some(RollForward(b))
                    case None => () // undecodable: null-and-skip
                  }
                case Undo(nb) =>
                  CborBlock.decode(nb) match {
                    case Some((_, b)) =>
                      nextEvent = Some(
                        RollBack(Point(b.hash, b.slot), Inclusive))
                    case None => ()
                  }
                case Reset(ref) =>
                  nextEvent = Some(RollBack(ref, Exclusive))
              }
            case other =>
              throw new IllegalStateException(s"unexpected frame flag $other")
          }
        }
      } catch { case e: Throwable => close(); throw e }

      def hasNext: Boolean = {
        pull()
        nextEvent.isDefined
      }

      def next(): BlockEvent = {
        pull()
        val e = nextEvent.getOrElse(throw new NoSuchElementException)
        nextEvent = None
        e
      }
    }
  }

  /** The reference's U5C tip query is NotImplemented
    * (`U5CProvider.cs:18`); progress reporting falls back to the last
    * applied slot upstream, so None is the faithful answer here.
    */
  def tip: Option[Point] = None
}
