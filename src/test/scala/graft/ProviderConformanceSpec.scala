package graft

import graft.core._
import graft.sources._

/** ONE provider-conformance suite across ALL FOUR bearers: Mock, File,
  * mux (headers+bodies), and U5C each re-prove the same seam contract
  * through the same parameterized assertions — StoreContractSpec's
  * discipline applied to the source layer, so a new bearer (or a
  * regression in one) is caught by construction rather than by four
  * hand-copied specs. The bearer-specific extras (pipelining high-water
  * marks, frame counts, segmentation, Undo mapping) stay in the
  * per-bearer specs; this suite pins what they must all share:
  *
  *   1. origin sync OPENS with a rollback, then replays the chain in
  *      slot order with decode fidelity;
  *   2. intersection: the newest VALID candidate wins and arrives as an
  *      Exclusive rollback (multi-candidate bearers additionally skip a
  *      newer rolled-back fork — U5C exempted: the reference's
  *      U5CProvider sends only MaxBy(slot), `U5CProvider.cs:47`);
  *   3. every-candidate-rolled-back fails HARD with the reference's
  *      error text, never silently re-syncs;
  *   4. a scripted mid-stream reorg surfaces as an Exclusive RollBack
  *      at the served point (scriptable bearers);
  *   5. ProviderSync drives the full 4-reducer UTxO graph to the §5.3
  *      oracle balances at EVERY slot prefix;
  *   6. (handshaking bearers) a networkMagic mismatch refuses BEFORE
  *      chain-sync may speak — the refuse is spec-shaped and fatal;
  *   7. (followable bearers) follow-tip clients receive post-catch-up
  *      appends through the awaited request (non-terminal
  *      MsgAwaitReply), decode-faithful and in order.
  */
class ProviderConformanceSpec extends SparkSpec {

  private sealed trait CEvent
  private final case class Fwd(wire: Array[Byte], block: Block) extends CEvent
  private final case class Back(p: Point) extends CEvent

  private trait Bearer {
    def name: String
    /** True when the bearer walks the WHOLE candidate list newest-first
      * (U5C forwards only its newest candidate, per the reference).
      */
    def walksCandidates: Boolean = true
    def scriptable: Boolean = true
    /** Provider over `chain`, with an optional post-intersection script;
      * second element closes the bearer.
      */
    def make(chain: Seq[(Array[Byte], Block)],
        script: Option[Seq[CEvent]]): (ChainProvider, () => Unit)
    /** Bearers that negotiate a handshake before chain-sync: provider
      * whose proposed networkMagic DIFFERS from the server's.
      */
    def handshakes: Boolean = false
    def makeMismagic(chain: Seq[(Array[Byte], Block)])
        : (ChainProvider, () => Unit) =
      throw new UnsupportedOperationException(name)
    /** Bearers with a followable live tip: (follow-tip provider,
      * append, close).
      */
    def followable: Boolean = false
    def makeFollow(chain: Seq[(Array[Byte], Block)])
        : (ChainProvider, (Array[Byte], Block) => Unit, () => Unit) =
      throw new UnsupportedOperationException(name)
  }

  private def mockEvents(s: Seq[CEvent]): Seq[BlockEvent] = s.map {
    case Fwd(_, b) => RollForward(b)
    case Back(p) => RollBack(p, Exclusive)
  }

  private val bearers: Seq[Bearer] = Seq(
    new Bearer {
      val name = "mock"
      def make(chain: Seq[(Array[Byte], Block)], script: Option[Seq[CEvent]]) =
        (new MockChainProvider(chain.map(_._2), script.map(mockEvents)),
          () => ())
    },
    new Bearer {
      val name = "file"
      override def scriptable = false
      def make(chain: Seq[(Array[Byte], Block)], script: Option[Seq[CEvent]]) = {
        val dir = tmpDir("conf-cbor")
        chain.zipWithIndex.foreach { case ((wire, _), i) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, f"block$i%04d.cbor"), wire)
        }
        (new FileChainProvider(spark, dir), () => ())
      }
    },
    new Bearer {
      val name = "mux"
      def make(chain: Seq[(Array[Byte], Block)], script: Option[Seq[CEvent]]) = {
        val server = new MuxChainSyncServer(chain, script.map(_.map {
          case Fwd(w, b) => ServeForward(w, b)
          case Back(p) => ServeBack(p)
        }))
        (new MuxChainProvider("127.0.0.1", server.port), () => server.close())
      }
      override def handshakes = true
      override def makeMismagic(chain: Seq[(Array[Byte], Block)]) = {
        val server = new MuxChainSyncServer(chain)
        (new MuxChainProvider("127.0.0.1", server.port,
          networkMagic = HandshakeWire.DefaultMagic + 1),
          () => server.close())
      }
      override def followable = true
      override def makeFollow(chain: Seq[(Array[Byte], Block)]) = {
        val server = new MuxChainSyncServer(chain, followable = true)
        (new MuxChainProvider("127.0.0.1", server.port, followTip = true),
          (w, b) => server.append(w, b), () => server.close())
      }
    },
    new Bearer {
      val name = "u5c"
      override def walksCandidates = false
      def make(chain: Seq[(Array[Byte], Block)], script: Option[Seq[CEvent]]) = {
        val server = new U5cServer(chain, script.map(_.map {
          case Fwd(w, _) => U5cApply(w)
          case Back(p) => U5cReset(p)
        }))
        (new U5cProvider("127.0.0.1", server.port), () => server.close())
      }
    })

  private def withProvider[A](b: Bearer, chain: Seq[(Array[Byte], Block)],
      script: Option[Seq[CEvent]] = None)(f: ChainProvider => A): A = {
    val (p, close) = b.make(chain, script)
    try f(p) finally close()
  }

  for (b <- bearers) {

    test(s"[${b.name}] origin sync opens with a rollback, then the chain in slot order with decode fidelity") {
      val chain = CborChainGen.generate(12, seed = 41)
      withProvider(b, chain) { p =>
        val events = p.startChainSync(Seq.empty).toVector
        assert(events.head.isInstanceOf[RollBack],
          s"stream must OPEN with a rollback, got ${events.head}")
        val blocks = events.collect { case RollForward(blk) => blk }
        assert(blocks == chain.map(_._2).toVector,
          "replay must be the full chain, slot-ordered, decode-faithful")
      }
    }

    test(s"[${b.name}] the newest valid candidate wins and arrives as an Exclusive rollback") {
      val chain = CborChainGen.generate(20, seed = 43)
      val old = chain(4)._2
      val good = chain(11)._2
      withProvider(b, chain) { p =>
        val events = p.startChainSync(Seq(
          Point(old.hash, old.slot), Point(good.hash, good.slot))).toVector
        events.head match {
          case RollBack(pt, mode) =>
            assert(pt == Point(good.hash, good.slot) && mode == Exclusive,
              s"agreed point must be the NEWEST candidate, Exclusive: $pt $mode")
          case other => fail(s"$other")
        }
        val blocks = events.collect { case RollForward(blk) => blk }
        assert(blocks == chain.map(_._2).filter(_.slot > good.slot).toVector,
          "replay must resume strictly AFTER the Exclusive intersection")
      }
    }

    if (b.walksCandidates)
      test(s"[${b.name}] a newer ROLLED-BACK fork candidate is skipped in the newest-first walk") {
        val chain = CborChainGen.generate(20, seed = 47)
        val good = chain(9)._2
        val fork = Point("ab" * 32, chain(15)._2.slot) // newer, not on chain
        withProvider(b, chain) { p =>
          val events = p.startChainSync(Seq(
            fork, Point(good.hash, good.slot))).toVector
          events.head match {
            case RollBack(pt, _) =>
              assert(pt == Point(good.hash, good.slot),
                s"must skip the dead fork and agree on the survivor: $pt")
            case other => fail(s"$other")
          }
        }
      }

    test(s"[${b.name}] every candidate rolled back fails HARD with the reference's error") {
      val chain = CborChainGen.generate(10, seed = 53)
      withProvider(b, chain) { p =>
        val ex = intercept[IllegalStateException] {
          // bearers differ in WHEN negotiation runs (connect vs first
          // pull) — forcing the iterator pins the failure either way
          p.startChainSync(Seq(
            Point("ab" * 32, chain(7)._2.slot),
            Point("cd" * 32, chain(3)._2.slot))).toVector
        }
        assert(ex.getMessage.contains("rolled back"), ex.getMessage)
      }
    }

    if (b.scriptable)
      test(s"[${b.name}] a scripted mid-stream reorg surfaces as an Exclusive RollBack at the served point") {
        val chain = CborChainGen.generate(10, seed = 59)
        val back = chain(6)._2
        val script = chain.take(7).map { case (w, blk) => Fwd(w, blk) } ++
          Seq(Back(Point(back.hash, back.slot))) ++
          chain.drop(7).map { case (w, blk) => Fwd(w, blk) }
        withProvider(b, chain, Some(script)) { p =>
          val events = p.startChainSync(Seq.empty).toVector
          val reorg = events.zipWithIndex.collect {
            case (RollBack(pt, mode), i) if i > 0 => (pt, mode)
          }
          assert(reorg.contains((Point(back.hash, back.slot), Exclusive)),
            s"mid-stream rollback mapping: $reorg")
          // the re-served suffix still arrives after the rollback
          val after = events.drop(events.lastIndexWhere(
            _.isInstanceOf[RollBack]) + 1)
          assert(after.collect { case RollForward(blk) => blk } ==
            chain.drop(7).map(_._2))
        }
      }

    if (b.handshakes)
      test(s"[${b.name}] a networkMagic mismatch refuses BEFORE chain-sync speaks") {
        val chain = CborChainGen.generate(8, seed = 67)
        val (p, close) = b.makeMismagic(chain)
        try {
          val ex = intercept[IllegalStateException](
            p.startChainSync(Seq.empty).toVector)
          assert(ex.getMessage.contains("handshake refused"), ex.getMessage)
          assert(ex.getMessage.contains("networkMagic"), ex.getMessage)
        } finally close()
      }

    if (b.followable)
      test(s"[${b.name}] follow-tip yields post-catch-up appends through the awaited request") {
        // generate(14) extends generate(10) exactly (sequential RNG),
        // so the appended blocks continue the chain with real
        // prev-hash linkage
        val full = CborChainGen.generate(14, seed = 79)
        val (chain, ext) = full.splitAt(10)
        val (p, append, close) = b.makeFollow(chain)
        try {
          val it = p.startChainSync(Seq.empty)
          val catchUp = (0 to 10).map(_ => it.next())
          assert(catchUp.head.isInstanceOf[RollBack],
            "catch-up must open with the rollback")
          assert(catchUp.collect { case RollForward(bk) => bk }
            == chain.map(_._2), "catch-up replay must be decode-faithful")
          ext.foreach { case (w, bk) => append(w, bk) }
          val live = (0 until ext.size).map(_ => it.next())
          assert(live.collect { case RollForward(bk) => bk } == ext.map(_._2),
            "appends must flow through the awaited request, in order")
          it match { case c: AutoCloseable => c.close(); case _ => () }
        } finally close()
      }

    test(s"[${b.name}] ProviderSync drives the UTxO graph to oracle balances at every prefix") {
      val sp = spark
      val chain = CborChainGen.generate(16, seed = 61)
      val watched = CborChainGen.Watched
      val oracle = CborChainGen.balanceOracle(chain, watched)
      withProvider(b, chain) { p =>
        val reducers = Seq(
          new graft.operators.BlockSummaryReducer,
          new graft.operators.TxIndexReducer,
          new graft.operators.WalletUtxoReducer(watched),
          new graft.operators.BalanceSnapshotReducer(watched))
        val store = new graft.core.StateStore(tmpDir(s"conf-${b.name}"), sp)
        val runner = new graft.core.GraphRunner(sp, store, reducers,
          batchSize = 500)
        ProviderSync.run(runner, p)
        val snaps = store.read("balance_snapshots",
            reducers(3).tables.head.schema)
          .collect().groupBy(_.getLong(3))
          .map { case (s, rs) =>
            s -> rs.map(r => r.getString(1) -> r.getLong(4)).toMap
          }
        assert(snaps.size == oracle.size,
          s"${snaps.size} snapshot slots vs ${oracle.size} oracle slots")
        oracle.foreach { case (s, bal) =>
          assert(snaps(s) == bal, s"slot $s: ${snaps(s)} vs $bal")
        }
      }
    }
  }
}
