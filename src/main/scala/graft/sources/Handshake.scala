package graft.sources

/** The Ouroboros HANDSHAKE mini-protocol. Every real peer requires
  * version + networkMagic negotiation BEFORE chain-sync speaks (the
  * reference gets it from its client library — `N2NProvider.cs:89` via
  * PeerClient); here it is implemented from the PUBLIC node-to-node
  * handshake CDDL (ouroboros-network spec):
  *
  *   msgProposeVersions = [0, versionTable]
  *   msgAcceptVersion   = [1, versionNumber, versionData]
  *   msgRefuse          = [2, refuseReason]
  *   versionTable       = { versionNumber => versionData }  ; keys ascending
  *   versionData        = [networkMagic, initiatorOnlyDiffusionMode,
  *                         peerSharing, query]               ; v11+ shape
  *   refuseReason       = [0, [versionNumber*]]  ; versionMismatch
  *                      / [1, versionNumber, tstr] ; handshakeDecodeError
  *                      / [2, versionNumber, tstr] ; refused
  *
  * Negotiation discipline (spec): the responder picks the HIGHEST
  * version proposed that it also supports; disjoint version sets refuse
  * with versionMismatch (listing the responder's supported set); a
  * networkMagic disagreement on the chosen version refuses with
  * `refused`. On the mux bearer the exchange rides mini-protocol id 0,
  * and chain-sync may not speak until the accept lands — the server
  * enforces it by reading the proposal as the connection's first
  * message.
  */
object HandshakeWire {

  val ProtoHandshake = 0 // mux mini-protocol id

  val MsgProposeVersions = 0L
  val MsgAcceptVersion = 1L
  val MsgRefuse = 2L

  val ReasonVersionMismatch = 0L
  val ReasonHandshakeDecodeError = 1L
  val ReasonRefused = 2L

  /** Node-to-node versionData, v11+ shape. `initiatorOnly` and
    * `peerSharing`/`query` ride the wire faithfully but only
    * networkMagic participates in agreement (like a real responder,
    * which echoes its own data for the chosen version).
    */
  final case class VersionData(networkMagic: Long,
      initiatorOnly: Boolean = false, peerSharing: Long = 0L,
      query: Boolean = false)

  /** Versions the mux bearer speaks by default. */
  val DefaultVersions: Seq[Long] = Seq(13L, 14L)

  /** Loopback networkMagic both sides default to — any value works as
    * long as initiator and responder agree; disagreement is the refuse
    * path the specs exercise.
    */
  val DefaultMagic = 42L

  def propose(versions: Seq[(Long, VersionData)]): Array[Byte] = {
    val w = new CborWriter
    w.arrayHeader(2); w.uint(MsgProposeVersions)
    w.mapHeader(versions.size)
    versions.sortBy(_._1).foreach { case (v, d) => // keys ascending (CDDL)
      w.uint(v)
      versionDataCbor(w, d)
    }
    w.result()
  }

  private def versionDataCbor(w: CborWriter, d: VersionData): Unit = {
    w.arrayHeader(4)
    w.uint(d.networkMagic); w.bool(d.initiatorOnly)
    w.uint(d.peerSharing); w.bool(d.query)
  }

  private def readVersionData(r: CborReader): VersionData = {
    val n = r.readArrayHeader()
    require(n >= 1 && n <= 4, s"versionData arity $n")
    val magic = r.readUInt()
    val initiatorOnly = if (n >= 2) r.readBool() else false
    val peerSharing = if (n >= 3) r.readUInt() else 0L
    val query = if (n >= 4) r.readBool() else false
    VersionData(magic, initiatorOnly, peerSharing, query)
  }

  def accept(version: Long, d: VersionData): Array[Byte] = {
    val w = new CborWriter
    w.arrayHeader(3); w.uint(MsgAcceptVersion)
    w.uint(version); versionDataCbor(w, d)
    w.result()
  }

  def refuseVersionMismatch(supported: Seq[Long]): Array[Byte] = {
    val w = new CborWriter
    w.arrayHeader(2); w.uint(MsgRefuse)
    w.arrayHeader(2); w.uint(ReasonVersionMismatch)
    w.arrayHeader(supported.size)
    supported.sorted.foreach(w.uint)
    w.result()
  }

  def refuseDecodeError(version: Long, reason: String): Array[Byte] = {
    val w = new CborWriter
    w.arrayHeader(2); w.uint(MsgRefuse)
    w.arrayHeader(3); w.uint(ReasonHandshakeDecodeError)
    w.uint(version); w.text(reason)
    w.result()
  }

  def refuseRefused(version: Long, reason: String): Array[Byte] = {
    val w = new CborWriter
    w.arrayHeader(2); w.uint(MsgRefuse)
    w.arrayHeader(3); w.uint(ReasonRefused)
    w.uint(version); w.text(reason)
    w.result()
  }

  sealed trait Reply
  final case class Accepted(version: Long, data: VersionData) extends Reply
  final case class Refused(detail: String) extends Reply

  def readReply(b: Array[Byte]): Reply = {
    val r = new CborReader(b)
    r.readArrayHeader()
    r.readUInt() match {
      case MsgAcceptVersion =>
        val v = r.readUInt()
        Accepted(v, readVersionData(r))
      case MsgRefuse =>
        r.readArrayHeader()
        r.readUInt() match {
          case ReasonVersionMismatch =>
            val n = r.readArrayHeader()
            val vs = (0 until n).map(_ => r.readUInt())
            Refused(s"versionMismatch: responder supports ${vs.mkString(",")}")
          case ReasonHandshakeDecodeError =>
            val v = r.readUInt()
            Refused(s"handshakeDecodeError at v$v: ${r.readText()}")
          case ReasonRefused =>
            val v = r.readUInt()
            Refused(s"refused at v$v: ${r.readText()}")
          case other =>
            throw new IllegalArgumentException(s"refuse reason $other")
        }
      case other =>
        throw new IllegalArgumentException(s"handshake reply $other")
    }
  }

  /** Responder side: parse a proposal, negotiate against this node's
    * supported versions and networkMagic. Returns (replyBytes,
    * Some(agreedVersion) | None-if-refused).
    */
  def negotiate(proposal: Array[Byte], supported: Seq[Long],
      networkMagic: Long): (Array[Byte], Option[Long]) = {
    val r = new CborReader(proposal)
    require(r.readArrayHeader() == 2, "propose arity")
    require(r.readUInt() == MsgProposeVersions,
      "first message must be msgProposeVersions")
    val n = r.readMapHeader()
    require(n >= 0, "indefinite version table")
    val offered = (0 until n).map(_ => (r.readUInt(), readVersionData(r)))
    val common = offered.map(_._1).toSet.intersect(supported.toSet)
    if (common.isEmpty)
      (refuseVersionMismatch(supported), None)
    else {
      val v = common.max // highest common version (spec)
      val d = offered.toMap.apply(v)
      if (d.networkMagic != networkMagic)
        (refuseRefused(v,
          s"networkMagic mismatch: proposed ${d.networkMagic}, " +
            s"expected $networkMagic"), None)
      else (accept(v, VersionData(networkMagic)), Some(v))
    }
  }

  /** Initiator side over arbitrary send/recv: propose, then require an
    * accept — a refuse throws with the responder's stated reason (the
    * connection is useless past it). Returns the agreed version.
    */
  def clientHandshake(send: Array[Byte] => Unit, recv: () => Array[Byte],
      networkMagic: Long,
      versions: Seq[Long] = DefaultVersions): Long = {
    send(propose(versions.map(v => v -> VersionData(networkMagic))))
    readReply(recv()) match {
      case Accepted(v, d) =>
        require(d.networkMagic == networkMagic,
          s"responder accepted with foreign magic ${d.networkMagic}")
        v
      case Refused(detail) =>
        throw new IllegalStateException(s"handshake refused: $detail")
    }
  }
}
