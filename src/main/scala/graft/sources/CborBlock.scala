package graft.sources

import graft.core._

/** Minimal RFC 8949 CBOR reader over a byte array — definite AND
  * indefinite lengths, all eight major types, nested-item skipping, and
  * raw-span slicing (the piece Cardano hashing needs: block hash =
  * BLAKE2b-256 of the raw HEADER bytes, tx hash = of the raw TX BODY
  * bytes, so the reader must hand back exact sub-item slices).
  *
  * Throws `CborError` on malformed input; [[CborBlock.decode]] maps
  * that to `None` (the reference's null-and-skip contract,
  * `ArgusUtil.cs:38-71`).
  */
final class CborReader(buf: Array[Byte]) {
  var pos: Int = 0

  final class CborError(msg: String) extends RuntimeException(msg)

  private def fail(msg: String): Nothing = throw new CborError(s"$msg at $pos")

  private def byteAt(i: Int): Int = {
    if (i >= buf.length) fail("truncated")
    buf(i) & 0xff
  }

  def hasMore: Boolean = pos < buf.length

  def peekMajor: Int = byteAt(pos) >> 5

  /** True if the next byte is the indefinite-length break (0xFF). */
  def atBreak: Boolean = byteAt(pos) == 0xff

  def readBreak(): Unit = {
    if (!atBreak) fail("expected break")
    pos += 1
  }

  /** Read a head; returns (major, argument). Argument is -1 for an
    * indefinite length (majors 2-5 only; 7/31 is `atBreak`).
    */
  def readHead(): (Int, Long) = {
    val ib = byteAt(pos)
    pos += 1
    val major = ib >> 5
    val info = ib & 0x1f
    val arg: Long =
      if (info < 24) info.toLong
      else if (info == 24) { val v = byteAt(pos); pos += 1; v.toLong }
      else if (info == 25) {
        val v = (byteAt(pos) << 8) | byteAt(pos + 1); pos += 2; v.toLong
      } else if (info == 26) {
        var v = 0L
        var i = 0
        while (i < 4) { v = (v << 8) | byteAt(pos + i); i += 1 }
        pos += 4; v
      } else if (info == 27) {
        var v = 0L
        var i = 0
        while (i < 8) { v = (v << 8) | byteAt(pos + i); i += 1 }
        pos += 8
        // a uint64 ≥ 2^63 reads as NEGATIVE and would collide with the
        // indefinite-length sentinel (-1), silently switching a
        // definite item to indefinite parsing and misaligning the
        // stream — no legitimate length/slot needs it
        if (v < 0) fail("uint64 argument out of range")
        v
      } else if (info == 31 && major >= 2 && major <= 5) -1L
      else fail(s"bad additional info $info for major $major")
    (major, arg)
  }

  def readUInt(): Long = {
    val (m, v) = readHead()
    if (m != 0) fail(s"expected uint, major $m")
    v
  }

  def readBool(): Boolean = {
    val (m, v) = readHead()
    if (m != 7 || (v != 20 && v != 21)) fail(s"expected bool, major $m/$v")
    v == 21
  }

  /** Definite or indefinite UTF-8 text string. */
  def readText(): String = {
    val (m, n) = readHead()
    if (m != 3) fail(s"expected text, major $m")
    if (n >= 0) new String(readRawN(n), java.nio.charset.StandardCharsets.UTF_8)
    else {
      val out = new java.io.ByteArrayOutputStream()
      while (!atBreak) {
        val (cm, cn) = readHead()
        if (cm != 3 || cn < 0) fail("bad indefinite text chunk")
        out.write(readRawN(cn))
      }
      readBreak()
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  /** Definite or indefinite byte string, as a FRESH array (the S6
    * defensive-copy contract: decoded values never alias the input).
    */
  def readBytes(): Array[Byte] = {
    val (m, n) = readHead()
    if (m != 2) fail(s"expected bytes, major $m")
    if (n >= 0) readRawN(n)
    else { // indefinite: definite chunks until break
      val out = new java.io.ByteArrayOutputStream()
      while (!atBreak) {
        val (cm, cn) = readHead()
        if (cm != 2 || cn < 0) fail("bad indefinite bytes chunk")
        out.write(readRawN(cn))
      }
      readBreak()
      out.toByteArray
    }
  }

  private def readRawN(n: Long): Array[Byte] = {
    if (n > Int.MaxValue || pos + n > buf.length) fail(s"truncated ($n)")
    val out = java.util.Arrays.copyOfRange(buf, pos, pos + n.toInt)
    pos += n.toInt
    out
  }

  /** Array header: element count, or -1 for indefinite (ends at break). */
  def readArrayHeader(): Int = {
    val (m, n) = readHead()
    if (m != 4) fail(s"expected array, major $m")
    if (n > Int.MaxValue) fail("oversized array")
    n.toInt
  }

  /** Map header: PAIR count, or -1 for indefinite. */
  def readMapHeader(): Int = {
    val (m, n) = readHead()
    if (m != 5) fail(s"expected map, major $m")
    if (n > Int.MaxValue) fail("oversized map")
    n.toInt
  }

  /** Consume tags (major 6) if present; returns the first tag seen. */
  def readTags(): Option[Long] = {
    var first: Option[Long] = None
    while (hasMore && peekMajor == 6) {
      val (_, t) = readHead()
      if (first.isEmpty) first = Some(t)
    }
    first
  }

  /** Nesting bound for [[skipItem]]: unbounded, a crafted payload of N
    * stacked containers/tags (`C6 C6 C6 …` or `81 81 81 …`) would
    * recurse N deep and throw StackOverflowError — an ERROR, which
    * escapes the decoders' `catch Exception` fences, so one adversarial
    * wire blob would kill the task (the retry storm the decode contract
    * forbids; the same class as an unbounded mp4 box walk). Real blocks
    * nest a handful of levels; 128 is orders beyond any CDDL shape.
    */
  private val MaxDepth = 128

  /** Skip one complete data item (any nesting, any length form). */
  def skipItem(): Unit = skipItem(0)

  private def skipItem(depth: Int): Unit = {
    if (depth > MaxDepth) fail("nesting too deep")
    val (major, arg) = readHead()
    major match {
      case 0 | 1 => () // value lives in the head
      case 2 | 3 =>
        // guard ORDER matters: `pos + arg` with a huge
        // Long arg overflows NEGATIVE and passes the length check,
        // then `arg.toInt` truncation could move pos BACKWARD — an
        // infinite loop inside an enclosing indefinite container on
        // crafted network bytes. Bound arg first, like readRawN.
        if (arg >= 0) {
          if (arg > Int.MaxValue || pos + arg > buf.length) fail("truncated")
          pos += arg.toInt
        } else {
          while (!atBreak) {
            val (cm, cn) = readHead()
            if (cm != major || cn < 0) fail("bad indefinite chunk")
            if (cn > Int.MaxValue || pos + cn > buf.length) fail("truncated")
            pos += cn.toInt
          }
          readBreak()
        }
      case 4 =>
        // arg.toInt on a count > Int.MaxValue would overflow NEGATIVE,
        // skip zero elements, and keep parsing misaligned — fail loudly
        // like readArrayHeader does
        if (arg >= 0) {
          if (arg > Int.MaxValue) fail(s"array too large: $arg")
          skipItems(arg.toInt, depth + 1)
        } else { while (!atBreak) skipItem(depth + 1); readBreak() }
      case 5 =>
        if (arg >= 0) {
          if (arg > Int.MaxValue / 2) fail(s"map too large: $arg")
          skipItems(2 * arg.toInt, depth + 1)
        } else {
          while (!atBreak) { skipItem(depth + 1); skipItem(depth + 1) }
          readBreak()
        }
      case 6 => skipItem(depth + 1) // tag wraps exactly one item
      case 7 =>
        // simple values / floats: payload width is encoded in the head
        // we already consumed (readHead advanced past it) — except that
        // readHead treats info 25/26/27 as big-endian ints, which IS
        // the float payload; nothing more to consume
        ()
      case _ => fail(s"bad major $major")
    }
  }

  def skipItems(k: Int): Unit = skipItems(k, 0)

  private def skipItems(k: Int, depth: Int): Unit = {
    var i = 0
    while (i < k) { skipItem(depth); i += 1 }
  }

  /** Parse one item by skipping it; return its exact raw byte span. */
  def rawItem(): Array[Byte] = {
    val start = pos
    skipItem()
    java.util.Arrays.copyOfRange(buf, start, pos)
  }
}

/** REAL Cardano CBOR block decode — the counterpart of the reference's
  * `ArgusUtil.DeserializeBlockWithEra` (`Utils/ArgusUtil.cs:38-71`) for
  * the §1.2 accessor subset, built from the public CDDL
  * (cardano-ledger's `babbage.cddl`/`conway.cddl`) with no external
  * codec:
  *
  *   - optional tag-24 wrap: `Tag(24, ByteString([era, block]))`, or
  *     the bare `[era, block]` — both accepted, like the reference;
  *   - `era`: the HardForkCombinator index, numerically identical to
  *     the reference's `Era` enum (`Enums/Era.cs:6-24`) and to
  *     [[graft.core.Era]]. Shelley-family eras (2-7) decode; Byron's
  *     incompatible structure is rejected as unsupported (`None`),
  *     matching this engine's generated-chain floor;
  *   - `block = [header, tx_bodies, tx_witness_sets, auxiliary, ...]`;
  *     `header = [header_body, body_signature]`;
  *     `header_body = [block_number, slot, prev_hash, ...]`;
  *   - block hash = BLAKE2b-256 over the raw `header` item bytes;
  *     tx hash = BLAKE2b-256 over each raw `tx_body` item bytes
  *     (hex, lowercase — this engine's hex convention);
  *   - `tx_body` map: key 0 → inputs (a Conway tag-258 set or a plain
  *     array of `[tx_id, index]`), key 1 → outputs, each either the
  *     Babbage+ map `{0: address, 1: value, ...}` or the legacy array
  *     `[address, value, ...]`, with `value = coin | [coin, assets]`;
  *   - DEFENSIVE COPY throughout: every decoded string/byte value is a
  *     fresh allocation — mutating the input buffer after decode must
  *     not alter the block (`BufferOwnershipTest.cs:25`).
  *
  * Validated two ways in CborCodecSpec: against fixtures SYNTHESIZED by
  * [[CborBlock.encode]] (era round-trip, hash self-consistency, wrap
  * forms, buffer ownership, malformed rejection), and — when the
  * reference's 100-block real preview-network corpus is on disk —
  * by decoding every real block and re-deriving slot-from-filename,
  * height monotonicity, and the full prev-hash chain linkage.
  */
object CborBlock {

  /** Blocks rejected for an unsupported era (Byron / unknown index) —
    * per-JVM telemetry (per-executor on a cluster): nonzero after a hard
    * fork the decoder does not know yet.
    */
  val unsupportedEraCount = new java.util.concurrent.atomic.LongAdder

  /** The ONE wire-format switch both the batch FileChainProvider and
    * streaming ChainIngest consult: a directory with any `.cbor` file
    * is a real-CBOR corpus. Single listing (a re-list could return
    * null if the dir vanished between calls).
    */
  def isCborDir(dir: String): Boolean = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) false
    else {
      val files = d.listFiles
      files != null && files.exists(_.getName.endsWith(".cbor"))
    }
  }

  /** Header-only view: era, content-derived hash, height, slot, and the
    * PREVIOUS block's hash — the linkage accessor chain validation
    * needs (CborCodecSpec re-derives the reference corpus's prev-hash
    * chain with it).
    */
  final case class CborHeader(era: Int, hash: String, height: Long,
      slot: Long, prevHash: String)

  def headerInfo(bytes: Array[Byte]): Option[CborHeader] =
    try {
      val outer = new CborReader(bytes)
      val inner: Array[Byte] =
        if (outer.peekMajor == 6) {
          if (!outer.readTags().contains(24L)) return None
          outer.readBytes()
        } else bytes
      val r = new CborReader(inner)
      if (r.readArrayHeader() != 2) return None
      val era = r.readUInt().toInt
      if (era < Era.Shelley || era > Era.Max) return None
      if (r.readArrayHeader() < 2) return None
      val headerStart = r.pos
      val headerRaw = r.rawItem()
      val hr = new CborReader(inner)
      hr.pos = headerStart
      if (hr.readArrayHeader() < 2) return None
      if (hr.readArrayHeader() < 3) return None
      val height = hr.readUInt()
      val slot = hr.readUInt()
      val prev = hex(hr.readBytes())
      Some(CborHeader(era, Blake2b.hash256Hex(headerRaw), height, slot, prev))
    } catch { case _: Exception => None }

  def decode(bytes: Array[Byte]): Option[(Int, Block)] =
    try {
      val outer = new CborReader(bytes)
      val inner: Array[Byte] =
        if (outer.peekMajor == 6) {
          val tag = outer.readTags().getOrElse(-1L)
          if (tag != 24) return None
          outer.readBytes() // fresh array — the defensive copy
        } else bytes // no copy needed: every extracted value is fresh
        // (readBytes/rawItem copy, hashes are strings) and decode is
        // fully eager, so nothing in the returned Block aliases the
        // caller's buffer — the full-buffer copyOf here was pure
        // memcpy on the ingest hot path
      val r = new CborReader(inner)
      val top = r.readArrayHeader()
      if (top != 2) return None
      val era = r.readUInt().toInt
      if (era < Era.Shelley || era > Era.Max) {
        unsupportedEraCount.increment()
        return None
      }
      // block = [header, tx_bodies, ...]; trailing sections unused
      val nBlock = r.readArrayHeader()
      if (nBlock < 2) return None
      // header: capture the raw span for the block hash, then re-parse
      // just [block_number, slot, prev_hash] out of header_body
      val headerStart = r.pos
      val headerRaw = r.rawItem()
      val hr = new CborReader(inner)
      hr.pos = headerStart
      if (hr.readArrayHeader() < 2) return None
      val nBody = hr.readArrayHeader()
      if (nBody < 2) return None
      val height = hr.readUInt()
      val slot = hr.readUInt()
      val hash = Blake2b.hash256Hex(headerRaw)
      // tx_bodies
      val nTx = r.readArrayHeader()
      val txs = Vector.newBuilder[Tx]
      var i = 0
      while (if (nTx >= 0) i < nTx else !r.atBreak) {
        txs += decodeTxBody(r, inner)
        i += 1
      }
      Some((era, Block(hash, height, slot, txs.result(), era)))
    } catch { case _: Exception => None }

  private def decodeTxBody(r: CborReader, inner: Array[Byte]): Tx = {
    val bodyStart = r.pos
    val bodyRaw = r.rawItem()
    val txHash = Blake2b.hash256Hex(bodyRaw)
    val br = new CborReader(inner)
    br.pos = bodyStart
    var inputs = Vector.empty[TxInput]
    var outputs = Vector.empty[TxOutput]
    val nPairs = br.readMapHeader()
    var p = 0
    while (if (nPairs >= 0) p < nPairs else !br.atBreak) {
      val key = br.readUInt()
      key match {
        case 0 => inputs = decodeInputs(br)
        case 1 => outputs = decodeOutputs(br)
        case _ => br.skipItem()
      }
      p += 1
    }
    if (nPairs < 0) br.readBreak()
    Tx(txHash, inputs, outputs)
  }

  private def decodeInputs(r: CborReader): Vector[TxInput] = {
    r.readTags() // Conway wraps sets in tag 258; pre-Conway is bare
    val n = r.readArrayHeader()
    val out = Vector.newBuilder[TxInput]
    var i = 0
    while (if (n >= 0) i < n else !r.atBreak) {
      val k = r.readArrayHeader()
      // a definite [tx_id, index] with k < 2 would let the two reads
      // below consume SIBLING items and misparse the rest of the block
      // into plausible garbage (skipItems(k-2) no-ops on negative) —
      // fail to None instead, the null-and-skip contract
      if (k >= 0 && k < 2) throw new IllegalArgumentException(s"input arity $k")
      val txId = hex(r.readBytes())
      val index = r.readUInt().toInt
      if (k >= 0) r.skipItems(k - 2) else { while (!r.atBreak) r.skipItem() }
      if (k < 0) r.readBreak()
      out += TxInput(txId, index)
      i += 1
    }
    if (n < 0) r.readBreak()
    out.result()
  }

  private def decodeOutputs(r: CborReader): Vector[TxOutput] = {
    val n = r.readArrayHeader()
    val out = Vector.newBuilder[TxOutput]
    var i = 0
    while (if (n >= 0) i < n else !r.atBreak) {
      out += decodeOutput(r)
      i += 1
    }
    if (n < 0) r.readBreak()
    out.result()
  }

  private def decodeOutput(r: CborReader): TxOutput =
    r.peekMajor match {
      case 5 => // Babbage+ map {0: address, 1: value, 2?: datum, 3?: ref}
        var address = ""
        var lovelace = 0L
        val n = r.readMapHeader()
        var p = 0
        while (if (n >= 0) p < n else !r.atBreak) {
          r.readUInt() match {
            case 0 => address = hex(r.readBytes())
            case 1 => lovelace = decodeValue(r)
            case _ => r.skipItem()
          }
          p += 1
        }
        if (n < 0) r.readBreak()
        TxOutput(address, lovelace)
      case 4 => // legacy array [address, value, ?datum_hash]
        val n = r.readArrayHeader()
        // same under-arity guard as decodeInputs: k < 2 would read
        // sibling items as address/value
        if (n >= 0 && n < 2) throw new IllegalArgumentException(s"output arity $n")
        val address = hex(r.readBytes())
        val lovelace = decodeValue(r)
        if (n >= 0) r.skipItems(n - 2) else { while (!r.atBreak) r.skipItem() }
        if (n < 0) r.readBreak()
        TxOutput(address, lovelace)
      case m => throw new IllegalArgumentException(s"output major $m")
    }

  /** `value = coin | [coin, multiasset]`; the engine consumes lovelace
    * (`output.Amount().Lovelace()`, §1.2) — assets are skipped.
    */
  private def decodeValue(r: CborReader): Long =
    if (r.peekMajor == 0) r.readUInt()
    else {
      val n = r.readArrayHeader()
      val coin = r.readUInt()
      if (n >= 0) r.skipItems(n - 1) else { while (!r.atBreak) r.skipItem() }
      if (n < 0) r.readBreak()
      coin
    }

  private val HexChars = "0123456789abcdef".toCharArray

  /** THE byte→hex spelling (Blake2b.hash256Hex delegates here) —
    * nibble lookup, not per-byte format interpolation, which allocated
    * a Formatter per byte on the per-block/per-tx hash path.
    */
  private[sources] def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      out(2 * i) = HexChars(v >> 4)
      out(2 * i + 1) = HexChars(v & 0xf)
      i += 1
    }
    new String(out)
  }

  // ---- encode (test/fixture side): the §1.2 subset back to real CBOR ----

  /** Synthesize a REAL-CBOR fixture for `block`: builds a plausible
    * header/body per the CDDL subset above, then RE-DERIVES the hashes
    * the way decode does — so the returned block's `hash`/`txHash` are
    * the BLAKE2b digests of the bytes produced (input `hash` fields are
    * ignored; CBOR hashes are content-derived, unlike the envelope
    * codec's carried strings). Returns (bytes, blockWithRealHashes).
    */
  def encode(block: Block, wrapped: Boolean = true,
      prevHash: String = "00" * 32): (Array[Byte], Block) = {
    val w = new CborWriter
    w.arrayHeader(2)
    w.uint(block.era.toLong)
    w.arrayHeader(4) // [header, bodies, witness_sets, auxiliary]
    val headerBytes = {
      val h = new CborWriter
      h.arrayHeader(2)
      h.arrayHeader(10) // babbage-shaped header_body
      h.uint(block.height)
      h.uint(block.slot)
      h.bytes(unhex(prevHash))
      h.bytes(new Array[Byte](32)) // issuer vkey
      h.bytes(new Array[Byte](32)) // vrf vkey
      h.arrayHeader(2); h.bytes(new Array[Byte](32)); h.bytes(new Array[Byte](16)) // vrf result
      h.uint(0L) // body size
      h.bytes(new Array[Byte](32)) // body hash
      h.arrayHeader(4); h.bytes(new Array[Byte](32)); h.uint(0); h.uint(0); h.bytes(Array.emptyByteArray) // op cert
      h.arrayHeader(2); h.uint(8); h.uint(0) // protocol version
      h.bytes(new Array[Byte](64)) // kes signature (body_signature)
      h.result()
    }
    w.raw(headerBytes)
    val bodies = block.transactions.map { t =>
      val b = new CborWriter
      b.mapHeader(3)
      b.uint(0)
      b.tag(258) // Conway-style set wrap — decode must peel it
      b.arrayHeader(t.inputs.size)
      t.inputs.foreach { in => b.arrayHeader(2); b.bytes(unhex(in.txId)); b.uint(in.index.toLong) }
      b.uint(1)
      b.arrayHeader(t.outputs.size)
      t.outputs.zipWithIndex.foreach { case (o, i) =>
        if (i % 2 == 0) { // alternate map/legacy forms to pin both paths
          b.mapHeader(2); b.uint(0); b.bytes(unhex(o.address)); b.uint(1); b.uint(o.lovelace)
        } else { // legacy array form, with a [coin, multiasset] value
          b.arrayHeader(2); b.bytes(unhex(o.address))
          b.arrayHeader(2); b.uint(o.lovelace)
          b.mapHeader(1); b.bytes(new Array[Byte](28)) // policy id
          b.mapHeader(1); b.bytes(Array[Byte](1, 2)); b.uint(5) // asset: qty
        }
      }
      b.uint(2)
      b.uint(170000L) // fee — skipped by decode
      b.result()
    }
    w.arrayHeader(bodies.size)
    bodies.foreach(w.raw)
    w.arrayHeader(bodies.size)
    bodies.foreach(_ => { w.mapHeader(0) }) // empty witness sets
    w.mapHeader(0) // auxiliary
    val inner = w.result()
    val bytes =
      if (!wrapped) inner
      else {
        val o = new CborWriter
        o.tag(24)
        o.bytes(inner)
        o.result()
      }
    val real = Block(
      Blake2b.hash256Hex(headerBytes),
      block.height, block.slot,
      block.transactions.zip(bodies).map { case (t, body) =>
        t.copy(txHash = Blake2b.hash256Hex(body))
      },
      block.era)
    (bytes, real)
  }

  private[sources] def unhex(s: String): Array[Byte] = {
    // fail loudly: a lenient decode would silently pad odd-length or
    // non-hex ids into corrupted fixture addresses/prev-hashes
    require(s.length % 2 == 0 && s.forall(c => Character.digit(c, 16) >= 0),
      s"hex string expected: '$s'")
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < s.length) {
      out(i / 2) = Integer.parseInt(s.substring(i, i + 2), 16).toByte
      i += 2
    }
    out
  }
}

/** Tiny definite-length CBOR writer — fixture synthesis only. */
final class CborWriter {
  private val out = new java.io.ByteArrayOutputStream()

  private def head(major: Int, arg: Long): Unit = {
    val m = major << 5
    if (arg < 24) out.write(m | arg.toInt)
    else if (arg < 256) { out.write(m | 24); out.write(arg.toInt) }
    else if (arg < 65536) {
      out.write(m | 25); out.write((arg >> 8).toInt & 0xff); out.write(arg.toInt & 0xff)
    } else if (arg <= 0xffffffffL) {
      out.write(m | 26)
      var i = 3
      while (i >= 0) { out.write(((arg >> (8 * i)) & 0xff).toInt); i -= 1 }
    } else {
      out.write(m | 27)
      var i = 7
      while (i >= 0) { out.write(((arg >>> (8 * i)) & 0xff).toInt); i -= 1 }
    }
  }

  def uint(v: Long): Unit = head(0, v)
  def bool(b: Boolean): Unit = out.write(if (b) 0xf5 else 0xf4)
  def text(s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    head(3, b.length.toLong)
    out.write(b)
  }
  def bytes(b: Array[Byte]): Unit = { head(2, b.length.toLong); out.write(b) }
  def arrayHeader(n: Int): Unit = head(4, n.toLong)
  def mapHeader(n: Int): Unit = head(5, n.toLong)
  def tag(t: Long): Unit = head(6, t)
  def raw(b: Array[Byte]): Unit = out.write(b)
  def result(): Array[Byte] = out.toByteArray
}
