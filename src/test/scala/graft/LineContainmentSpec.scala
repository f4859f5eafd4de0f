package graft

import org.apache.spark.sql.DataFrame
import graft.queries.{Dedup, TextAnalysis}

/** Behavioral gates for q130 line-grain containment — the semantics the
  * value-hash oracle cannot stage: a verbatim block-quote is engulfed
  * at containment 1.0 even when the quoting page is otherwise novel
  * (the word-gram blind spot this operator exists for), shared CHROME
  * never counts as quoted content (strip-then-index), a below-τ quote
  * is rejected, and the whole pipeline agrees with a brute-force
  * O(n²) line-set reference on seeded corpora.
  */
class LineContainmentSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def docsDf(rows: Seq[(Long, String, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  private def report(rows: Seq[(Long, String, String)])
      : Seq[(Long, Long, Long, Long, Double)] =
    TextAnalysis.lineContainmentReport(docsDf(rows))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toSeq

  private def words(pfx: String, n: Int): String =
    (0 until n).map(i => s"$pfx$i").mkString(" ")

  // ---- pure-JVM reference of the page model / census / strip / quote
  // construction — re-derived from the SQL twin's spellings
  // (pageLinesSqlFor / the census CTEs), NOT from the Scala engine, so
  // a drift in either engine spelling fails here.
  // the window width: ONE spelling with the engine + SQL twins (the
  // SnipMod/SnipFrac constants discipline) — a BoilerW change tracks here
  private val W = TextAnalysis.BoilerW

  private def linesRef(id: Long, src: String, text: String): Seq[String] = {
    val ws = "\\S+".r.findAllIn(Option(text).getOrElse("")).toVector
    val nBody = math.max((ws.size - 1) / W, 0)
    val body = (0 to nBody).map(i =>
      ws.slice(i * W, math.min(i * W + W, ws.size)).mkString(" "))
    Seq(s"nav $src menu home about contact") ++ body ++
      (if (id % 17 == 0) Seq(s"promo $src special offer today only")
       else Nil) ++
      (if (id % 3 != 0) Seq(s"footer $src copyright terms privacy")
       else Nil)
  }

  private def quotesRef(docs: Seq[(Long, String, String)])
      : Seq[(Long, String, String)] =
    docs.flatMap { case (id, src, t) =>
      if (id % Dedup.SnipMod != TextAnalysis.QuoteRes) Nil
      else {
        val ws = "\\S+".r.findAllIn(Option(t).getOrElse("")).toVector
        val nq =
          math.floor(math.floor(ws.size.toDouble / W) * Dedup.SnipFrac).toInt
        if (nq < 1) Nil
        else Seq((id + TextAnalysis.QuoteOff, src,
          ws.take(nq * W).mkString(" ")))
      }
    }

  /** Surviving (chrome-stripped) DISTINCT line set per document over
    * corpus ∪ quotes. */
  private def strippedSetsRef(docs: Seq[(Long, String, String)])
      : Map[Long, Set[String]] = {
    val corpus = docs ++ quotesRef(docs)
    val lines = corpus.map { case (id, src, t) =>
      (id, src, linesRef(id, src, t))
    }
    val nDocs = corpus.groupBy(_._2).view.mapValues(_.size).toMap
    val chrome: Map[String, Set[String]] = lines
      .groupBy(_._2)
      .map { case (src, ds) =>
        val cnt = ds.flatMap(d => d._3.distinct.map(l => (d._1, l)))
          .groupBy(_._2).view.mapValues(_.map(_._1).distinct.size)
        src -> cnt.filter { case (_, c) =>
          2 * c >= nDocs(src) && nDocs(src) >= 3
        }.keySet.toSet
      }
    lines.map { case (id, src, ls) =>
      id -> (ls.toSet -- chrome.getOrElse(src, Set.empty))
    }.toMap
  }

  test("a verbatim block-quote inside an otherwise-novel page is engulfed at 1.0; chrome alone never makes a pair") {
    // doc 104 ≡ 5 (mod 9) triggers quote construction off its body; the
    // soup docs share ONLY chrome with everyone and must never appear.
    // Enough soup docs that the quoted lines (2 of 7 docs) stay far
    // below the census half-threshold — in a 3-doc source the quote's
    // own lines WOULD be chrome, which is census semantics, not a bug.
    // soup ids avoid ≡ 5 (mod 9) so no soup doc spawns its own quote
    val soup = Seq(1L, 2L, 3L, 4L, 6L).map(i => (i, "s0", words(s"a$i", 40)))
    val out = report(soup :+ ((104L, "s0", words("w", 48))))
    val quoteId = 104L + TextAnalysis.QuoteOff
    assert(out.exists(r => r._1 == quoteId && r._2 == 104L && r._5 == 1.0),
      out.mkString(";"))
    assert(out.forall(r => r._1 == quoteId),
      s"chrome-only overlap must never pair: ${out.mkString(";")}")
  }

  test("below-τ line overlap is rejected by the exact confirm") {
    // doc 23 (≡ 5 mod 9) is quoted; another doc copies ONE of the
    // parent's windows (window-aligned) plus foreign soup — 1 shared
    // line of its 4 ≪ τ. Soup keeps the census honest as above.
    val parent = words("w", 48)
    val oneWindow = parent.split(" ").take(W).mkString(" ")
    // soup ids avoid ≡ 5 (mod 9) so no soup doc spawns its own quote
    val soup = Seq(1L, 2L, 3L, 4L, 6L).map(i => (i, "s0", words(s"a$i", 40)))
    val out = report(soup ++ Seq(
      (23L, "s0", parent),
      (30L, "s0", oneWindow + " " + words("z", 24))))
    val quoteId = 23L + TextAnalysis.QuoteOff
    assert(out.exists(r => r._1 == quoteId && r._2 == 23L && r._5 == 1.0),
      out.mkString(";"))
    assert(out.forall(r => r._1 == quoteId),
      s"partial overlap must stay below τ: ${out.mkString(";")}")
  }

  test("quote id guard refuses loudly outside the block convention; replica-convention ids pass") {
    // 1100003 ≡ 5 (mod 9): passes the parent predicate, reaches the
    // guard; block residue 1.1e6 ≥ SnipOff refuses (the snipOf
    // discipline at line grain). 3·10⁷ + 2 ≡ 5 (mod 9), residue 2:
    // the ScaleSlope copy-shift convention passes.
    val bad = docsDf(Seq((1100003L, "s0", words("w", 48))))
    val e = intercept[Exception] {
      TextAnalysis.quoteOf(bad).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("quoteOf")),
      s"guard must name itself: ${msgs(e).mkString(" | ")}")
    val okId = graft.queries.Dedup.IdBlock * 3 + 2
    val out = TextAnalysis.quoteOf(
      docsDf(Seq((okId, "s0", words("w", 48))))).collect()
    assert(out.length == 1 &&
      out.head.getLong(0) == okId + TextAnalysis.QuoteOff)
  }

  test("fuzz: against a brute-force line-set reference, every report row is exact and every true engulfment is found (40 seeded corpora)") {
    // the ContainmentSpec fuzz discipline at line grain: seeded random
    // corpora (some docs block-quote full windows of earlier docs, some
    // are fresh soup), a pure-JVM O(n²) reference over chrome-stripped
    // line sets. Precision: every reported row equals the reference.
    // Recall: every reference pair at containment == 1.0 is reported
    // (all probe lines then hit the container); τ ≤ c < 1 pairs MAY be
    // probe-missed — the documented trade — but if reported must match.
    val rnd = new scala.util.Random(130130L)
    val vocab = (0 until 40).map(i => s"v$i")
    for (trial <- 1 to 40) {
      val nSrc = 1 + rnd.nextInt(2)
      val nDocs = 4 + rnd.nextInt(6)
      val base = (1L to nDocs).map { id =>
        val n = 8 + rnd.nextInt(60)
        (id, s"s${rnd.nextInt(nSrc)}",
          (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      // half the later docs block-quote a window-aligned prefix of an
      // earlier doc (full 8-token windows → verbatim line overlap),
      // padded with fresh soup on a window boundary
      val docs = base.map { case (id, src, t) =>
        if (id > 1 && rnd.nextBoolean()) {
          val (_, psrc, pt) = base(rnd.nextInt(id.toInt - 1))
          val pws = pt.split(" ").toVector
          val take = W * (1 + rnd.nextInt(math.max(pws.size / W, 1)))
          val pad = if (rnd.nextBoolean()) "" else " " + words(s"f$id", W)
          (id, psrc, pws.take(math.min(take, pws.size)).mkString(" ") + pad)
        } else (id, src, t)
      }
      val sets = strippedSetsRef(docs)
      val ref = (for {
        (d, ld) <- sets if ld.nonEmpty
        (c, lc) <- sets if c != d && lc.size > ld.size
        shared = ld.count(lc.contains)
        if shared.toDouble / ld.size >= Dedup.ContainTau
      } yield (d, c) -> ((ld.size.toLong, shared.toLong,
        BigDecimal(shared.toDouble / ld.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))).toMap
      val got = report(docs)
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      got.foreach { case (pair, vals) =>
        assert(ref.get(pair).contains(vals),
          s"trial $trial: reported $pair -> $vals, reference says " +
            s"${ref.get(pair)}\ncorpus: $docs")
      }
      ref.foreach { case (pair, vals) =>
        if (vals._3 == 1.0)
          assert(got.contains(pair),
            s"trial $trial: true line engulfment $pair missed\n" +
              s"corpus: $docs")
      }
    }
  }

  test("every constructed corpus quote is reported inside its parent at containment 1.0") {
    val sp = spark
    import sp.implicits._
    val expected = Tables.documents(sp, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .where(org.apache.spark.sql.functions.expr(
        s"doc_id % ${Dedup.SnipMod} = ${TextAnalysis.QuoteRes} AND " +
          "size(regexp_extract_all(text, '\\\\S+', 0)) >= 24"))
      .as[Long].collect().toSet
    assert(expected.nonEmpty, "fixture must construct quotes")
    val got = SparkEntry.queries("q130_line_containment")(sp, sf)
      .as[(Long, Long, Long, Long, Double)].collect()
    expected.foreach { p =>
      val row = got.find(r =>
        r._1 == p + TextAnalysis.QuoteOff && r._2 == p)
      assert(row.exists(_._5 == 1.0),
        s"quote of $p missing or partial: ${row.orElse(Some("absent"))}")
    }
  }
}
