package graft.perfbench

import graft.core._
import graft.sources._
import scala.collection.mutable

/** A seeded chain with scripted shallow reorgs, as the loopback bearer
  * serves it.
  *
  * `canonical` is a [[CborChainGen]] chain. After the canonical block at
  * each fork index the script serves 1–3 orphan blocks (a competing
  * branch off that block), then rolls back to it and continues on the
  * canonical chain. Each orphan carries one transaction that spends an
  * output live at the fork and pays a watched address, so a rollback has
  * a spend to undo and a balance to restore.
  *
  * A block's hash covers its header only (previous hash, height, slot),
  * so the first orphan takes a slot the canonical block of its height does
  * not use.
  *
  * The fork is the last block of every `ReorgEvery`-block segment, with
  * depth 1, 2, 3 in turn: the reference's synthetic bench shape, a
  * rollback every Nth block (`Bench/Workload/SyntheticChain.cs`). A
  * segment is one batch and a fifth long, so every segment commits the
  * same way for every seed: a commit of the first `batchSize` blocks on
  * the size trigger, a commit of the rest and the orphans flushed by the
  * rollback, then the rollback. A segment boundary never splits a reorg.
  * The seed sets the chain and the orphans' transactions.
  */
final case class ChainScript(
    canonical: IndexedSeq[(Array[Byte], Block)],
    events: IndexedSeq[ServedEvent],
    /** event index just after the forward of canonical block i */
    afterCanonical: IndexedSeq[Int],
    reorgs: Int,
    orphans: Int) {

  val canonicalHashes: Set[String] = canonical.iterator.map(_._2.hash).toSet

  /** The script events of canonical blocks [from, until), with the
    * reorgs that fork inside that range.
    */
  def slice(from: Int, until: Int): IndexedSeq[ServedEvent] =
    events.slice(if (from == 0) 0 else afterCanonical(from - 1),
      if (until == 0) 0 else afterCanonical(until - 1))

  def wireDigest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    events.foreach {
      case ServeForward(w, _) => md.update(w)
      case ServeBack(p) => md.update(s"back:${p.hash}:${p.slot}".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

object ChainScript {
  val ReorgEvery = 600
  val MaxDepth = 3

  def build(n: Int, seed: Long): ChainScript = {
    val canonical = CborChainGen.generate(n, (seed * 7919L + 17L).toInt).toIndexedSeq
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val forks: Map[Int, Int] = (0 until n / ReorgEvery)
      .map(s => (s + 1) * ReorgEvery - 1 -> (1 + s % MaxDepth)).toMap
    val live = mutable.LinkedHashMap[(String, Int), Unit]()
    val events = mutable.ArrayBuffer[ServedEvent]()
    val after = mutable.ArrayBuffer[Int]()
    var nonce = 0L
    var orphans = 0
    canonical.zipWithIndex.foreach { case ((wire, b), i) =>
      events += ServeForward(wire, b)
      b.transactions.foreach { t =>
        t.inputs.foreach(in => live.remove((in.txId, in.index)))
        t.outputs.indices.foreach(oi => live((t.txHash, oi)) = ())
      }
      forks.get(i).foreach { depth =>
        var prev = b.hash
        val nextSlot = canonical.lift(i + 1).map(_._2.slot).getOrElse(b.slot + 1)
        (1 to depth).foreach { j =>
          nonce += 1
          val spend = live.keys.drop(rnd.nextInt(math.max(1, live.size)))
            .headOption.map { case (h, oi) => TxInput(h, oi) }.toSeq
          val tx = Tx("tmp", spend, Seq(TxOutput(
            CborChainGen.Addresses(rnd.nextInt(2)), 500L + nonce)))
          val (ow, ob) = CborBlock.encode(
            Block("tmp", b.height + j, nextSlot + j, Seq(tx), Era.Conway),
            prevHash = prev)
          prev = ob.hash
          events += ServeForward(ow, ob)
          orphans += 1
        }
        events += ServeBack(Point(b.hash, b.slot))
      }
      after += events.size
    }
    ChainScript(canonical, events.toIndexedSeq, after.toIndexedSeq,
      forks.size, orphans)
  }
}

/** One document of the seeded corpus. */
final case class Doc(id: Long, text: String, lang: String, source: String)

/** A seeded replica of the sf0.1 `documents` table: the same 30-word
  * vocabulary, 10–100 words a document, the same language mix and 20
  * round-robin sources.
  *
  * Exact copies (doc i with i % 19 == 5) and near copies (i % 17 == 3,
  * an earlier text plus the word "dup") sit at fixed shares, so dedup does
  * the same share of work for every seed. A copy keeps its original's
  * quality verdict: it has the same words. The moduli are coprime to the
  * 20-source round-robin, so every source gets copies.
  */
object DocCorpus {
  val Words: IndexedSeq[String] = ("spark window merge table column vector " +
    "stream value data small join filter big group hash customer sort order " +
    "slow line part fast row the agg key query a scan batch").split(" ").toIndexedSeq
  private val Langs = IndexedSeq("en", "en", "en", "en", "en", "en", "en",
    "en", "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de")

  def docs(seed: Long, n: Int, firstId: Long): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val out = mutable.ArrayBuffer[Doc]()
    (0 until n).foreach { i =>
      val id = firstId + i
      val text =
        if (i >= 20 && i % 19 == 5) out(rnd.nextInt(out.size)).text
        else if (i >= 20 && i % 17 == 3) out(rnd.nextInt(out.size)).text + " dup"
        else Iterator.fill(10 + rnd.nextInt(91))(Words(rnd.nextInt(Words.size)))
          .mkString(" ")
      out += Doc(id, text, Langs(rnd.nextInt(Langs.size)), s"src${i % 20}")
    }
    out.toIndexedSeq
  }

  def json(d: Doc): String =
    s"""{"doc_id":${d.id},"text":"${d.text}","lang":"${d.lang}",""" +
      s""""source":"${d.source}","n_chars":${d.text.length}}"""

  /** JSONL of `docs` with one malformed line after every 47th document:
    * alternately truncated JSON and valid JSON that lacks `text`. Returns
    * the lines and the number of malformed ones.
    */
  def jsonl(docs: Seq[Doc]): (IndexedSeq[String], Int) = {
    val lines = mutable.ArrayBuffer[String]()
    var bad = 0
    docs.zipWithIndex.foreach { case (d, i) =>
      lines += json(d)
      if (i % 47 == 46) {
        lines += (if (bad % 2 == 0) json(d).take(json(d).length / 2)
          else s"""{"doc_id":${d.id},"lang":"${d.lang}"}""")
        bad += 1
      }
    }
    (lines.toIndexedSeq, bad)
  }

  def write(path: String, lines: Seq[String]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
