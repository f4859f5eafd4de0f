package graft.sources

import graft.core._

/** Seeded spend-matched REAL-CBOR chain generator — ChainGen's sibling
  * for the CBOR tier. Content-derived ids (BLAKE2b tx hashes) only
  * exist post-encode, so generation interleaves with encoding exactly
  * as a real chain producer's does: each tx spends outputs of earlier
  * blocks BY THEIR REAL HASH, and every block's prev-hash links the
  * real header digest of its predecessor. One implementation shared by
  * CborCodecSpec, MuxChainSyncSpec and the benchmark's chain
  * catch-up, so the specs and the benchmark exercise the same chain
  * shape.
  */
object CborChainGen {

  val Addresses: Seq[String] = (0 until 6).map(i => f"aa$i%02d" * 8)

  /** addressName dimension for the watched-balance reducers. */
  val Watched: Map[String, String] =
    Map(Addresses(0) -> "alice", Addresses(1) -> "bob")

  /** `n` blocks as (wireBytes, decodedBlock), hash-linked. */
  def generate(n: Int, seed: Int): Seq[(Array[Byte], Block)] = {
    val rnd = new scala.util.Random(seed)
    val live = scala.collection.mutable.ArrayBuffer[(String, Int, String, Long)]()
    var prev = "00" * 32
    var height = 100L
    var slot = 1000L
    var txNonce = 0L
    (0 until n).map { _ =>
      slot += 1 + rnd.nextInt(3)
      height += 1
      val txs = (0 until rnd.nextInt(3)).map { _ =>
        val nSpend = rnd.nextInt(3).min(live.size)
        val spends = (0 until nSpend).map(_ => live.remove(rnd.nextInt(live.size)))
        // the first output carries a strictly increasing nonce: two
        // zero-input txs could otherwise draw byte-identical bodies
        // (same address, same amount) → identical content-derived
        // hashes → a DUPLICATE (txHash, 0) outpoint in the live pool,
        // double-spendable and oracle-ambiguous. Real
        // chains get this uniqueness from witnesses/fees; the fixture
        // gets it from the amount.
        txNonce += 1
        Tx("tmp",
          spends.map { case (h, i, _, _) => TxInput(h, i) },
          (0 to rnd.nextInt(2)).map(oi =>
            TxOutput(Addresses(rnd.nextInt(Addresses.size)),
              1000L + rnd.nextInt(9000) +
                (if (oi == 0) 10000L * txNonce else 0L))))
      }
      val (bytes, real) = CborBlock.encode(
        Block("tmp", height, slot, txs, Era.Conway), prevHash = prev)
      prev = real.hash
      real.transactions.foreach(t => t.outputs.zipWithIndex.foreach {
        case (o, oi) => live += ((t.txHash, oi, o.address, o.lovelace))
      })
      (bytes, real)
    }
  }

  /** Independent imperative balance oracle over a generated chain —
    * unspent total per watched NAME after every block (the ChainGen
    * balanceOracle discipline, for this generator's watched set).
    */
  def balanceOracle(chain: Seq[(Array[Byte], Block)],
      watched: Map[String, String] = Watched): Seq[(Long, Map[String, Long])] =
    // ONE spelling of the imperative pool fold: two
    // hand-copies of the oracle algorithm could silently diverge on a
    // same-block-ordering change
    ChainGen.balanceOracle(chain.map(_._2), watched)
}
