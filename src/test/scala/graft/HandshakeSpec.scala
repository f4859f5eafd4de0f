package graft

import graft.core._
import graft.sources._
import org.scalatest.funsuite.AnyFunSuite

/** The handshake mini-protocol. Codec round-trips, the negotiation
  * matrix (highest common version, version mismatch, networkMagic
  * mismatch, garbage proposal), and the refuse paths observed ON THE
  * WIRE on the mux bearer: a client that fails the handshake gets a
  * spec-shaped refuse and neither data mini-protocol ever speaks.
  */
class HandshakeSpec extends AnyFunSuite {
  import HandshakeWire._

  private def chain(n: Int) = CborChainGen.generate(n, seed = 11)

  test("codec: propose/accept/refuse round-trip byte-exactly through the reader") {
    val reply = readReply(accept(13L, VersionData(42L)))
    assert(reply == Accepted(13L, VersionData(42L)))
    readReply(refuseVersionMismatch(Seq(13L, 14L))) match {
      case Refused(d) => assert(d.contains("versionMismatch") &&
        d.contains("13") && d.contains("14"), d)
      case other => fail(s"$other")
    }
    readReply(refuseRefused(14L, "networkMagic mismatch: 7, expected 42")) match {
      case Refused(d) => assert(d.contains("refused at v14") &&
        d.contains("networkMagic"), d)
      case other => fail(s"$other")
    }
    readReply(refuseDecodeError(14L, "bad map")) match {
      case Refused(d) => assert(d.contains("handshakeDecodeError"), d)
      case other => fail(s"$other")
    }
  }

  test("negotiation picks the HIGHEST common version; data echoes the magic") {
    val proposal = propose(Seq(
      12L -> VersionData(42L), 13L -> VersionData(42L), 14L -> VersionData(42L)))
    val (reply, agreed) = negotiate(proposal, Seq(11L, 13L), 42L)
    assert(agreed.contains(13L), "13 is the highest COMMON version")
    assert(readReply(reply) == Accepted(13L, VersionData(42L)))
  }

  test("disjoint version sets refuse with versionMismatch listing the responder's set") {
    val (reply, agreed) =
      negotiate(propose(Seq(9L -> VersionData(42L))), Seq(13L, 14L), 42L)
    assert(agreed.isEmpty)
    readReply(reply) match {
      case Refused(d) => assert(d.contains("versionMismatch"), d)
      case other => fail(s"$other")
    }
  }

  test("networkMagic disagreement refuses even on a common version") {
    val (reply, agreed) =
      negotiate(propose(Seq(14L -> VersionData(7L))), Seq(13L, 14L), 42L)
    assert(agreed.isEmpty)
    readReply(reply) match {
      case Refused(d) => assert(d.contains("networkMagic"), d)
      case other => fail(s"$other")
    }
  }

  test("mux bearer: handshake rides mini-protocol 0 before chain-sync and BlockFetch") {
    val server = new MuxChainSyncServer(chain(8))
    try {
      val p = new MuxChainProvider("127.0.0.1", server.port)
      val blocks = p.startChainSync(Seq.empty).collect {
        case RollForward(b) => b
      }.toVector
      assert(blocks.size == 8)
      assert(p.lastNegotiatedVersion == 14L &&
        server.negotiatedVersion == 14L)
      assert(server.handshakeFrames >= 1,
        "the accept must have crossed the wire on protocol 0")
    } finally server.close()
  }

  test("mux bearer: magic mismatch refuses; neither data protocol ever speaks") {
    val server = new MuxChainSyncServer(chain(4), networkMagic = 1L)
    try {
      val ex = intercept[IllegalStateException] {
        new MuxChainProvider("127.0.0.1", server.port, networkMagic = 2L)
          .startChainSync(Seq.empty)
      }
      assert(ex.getMessage.contains("refused"), ex.getMessage)
      assert(server.chainSyncFrames == 0 && server.blockFetchFrames == 0,
        "refused handshake must gate the data mini-protocols")
    } finally server.close()
  }

  test("mux bearer: disjoint versions refuse with the responder's supported set") {
    val server = new MuxChainSyncServer(chain(4), versions = Seq(13L, 14L))
    try {
      val ex = intercept[IllegalStateException] {
        new MuxChainProvider("127.0.0.1", server.port,
          proposeVersions = Seq(7L, 8L)).startChainSync(Seq.empty)
      }
      assert(ex.getMessage.contains("versionMismatch") &&
        ex.getMessage.contains("13") && ex.getMessage.contains("14"),
        ex.getMessage)
      assert(server.negotiatedVersion == -1L, "nothing negotiated")
      assert(server.chainSyncFrames == 0 && server.blockFetchFrames == 0,
        "refused handshake must gate the data mini-protocols")
    } finally server.close()
  }

  test("garbage proposal refuses with handshakeDecodeError instead of killing the handler") {
    import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
    val server = new MuxChainSyncServer(chain(4))
    try {
      val sock = new java.net.Socket("127.0.0.1", server.port)
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      val demux = new MuxDemux(
        new DataInputStream(new BufferedInputStream(sock.getInputStream)))
      // a COMPLETE CBOR item that is not a proposal: the demux only hands
      // whole items to the handshake, so the garbage must parse as CBOR
      val w = new CborWriter
      w.arrayHeader(2); w.uint(7L); w.uint(7L)
      Mux.writeMsg(out, ProtoHandshake, responder = false, w.result())
      out.flush()
      readReply(demux.nextMessage(ProtoHandshake)) match {
        case Refused(d) => assert(d.contains("handshakeDecodeError"), d)
        case other => fail(s"$other")
      }
      sock.close()
      assert(server.chainSyncFrames == 0 && server.blockFetchFrames == 0)
      // the server survives and serves a well-behaved client afterwards
      val p = new MuxChainProvider("127.0.0.1", server.port)
      assert(p.startChainSync(Seq.empty).size == 5) // rollback + 4 blocks
    } finally server.close()
  }
}
