package graft

import org.apache.spark.sql.DataFrame
import graft.queries.Dedup

/** Behavioral gates for q127 containment/engulfment detection — the
  * semantics the value-hash oracle cannot stage: a true engulfment is
  * found at containment 1.0 (the rarest-probe recall guarantee), a
  * below-τ overlap is rejected, equal gram sets are exact-dup
  * territory and never reported, and the df-cap recall trade behaves
  * as stated (unprobeable ⇒ absent, never an all-pairs fallback).
  */
class ContainmentSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  private def report(rows: Seq[(Long, String)])
      : Seq[(Long, Long, Long, Long, Double)] =
    Dedup.containmentReport(docsDf(rows))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toSeq

  private def words(pfx: String, n: Int): String =
    (0 until n).map(i => s"$pfx$i").mkString(" ")

  test("an exact snippet is engulfed at containment 1.0; an unrelated doc is not flagged") {
    val out = report(Seq(
      1L -> words("w", 40), // 33 distinct 8-grams
      2L -> words("w", 12), // 5 grams, all inside doc 1
      3L -> words("u", 40)))
    assert(out == Seq((2L, 1L, 5L, 5L, 1.0)), out.mkString(";"))
  }

  test("below-τ overlap is rejected by the exact confirm") {
    // doc 2 = 12 container words then 10 foreign words: of its 15
    // grams only the 5 fully inside w0..w11 are shared — 5/15 ≪ τ
    val out = report(Seq(
      1L -> words("w", 40),
      2L -> (words("w", 12) + " " + words("z", 10))))
    assert(out.isEmpty, out.mkString(";"))
  }

  test("equal gram sets are exact-dup territory, never engulfment") {
    val out = report(Seq(1L -> words("w", 40), 2L -> words("w", 40)))
    assert(out.isEmpty, out.mkString(";"))
  }

  test("df-cap recall trade: an unprobeable doc is absent, never an all-pairs fallback") {
    val sp = spark
    val rows = Seq(1L -> words("w", 40), 2L -> words("w", 12))
    // every gram of doc 2 also lives in doc 1 ⇒ df ≥ 2 for all its
    // probes ⇒ cap 1 makes it unprobeable
    sp.conf.set("graft.contain.dfCap", "1")
    val capped = try report(rows)
    finally sp.conf.unset("graft.contain.dfCap")
    assert(capped.isEmpty, capped.mkString(";"))
    assert(report(rows).nonEmpty) // default cap: found again
  }

  test("snippet id guard refuses loudly on ids outside the block convention — never a silent alias") {
    // an id in a block's UPPER region could collide with another id +
    // SnipOff while the SQL twin aliases identically (green gate,
    // wrong report) — the scan-stage guard must raise, not proceed.
    // 1100000 ≡ 2 (mod 9) so it passes the parent predicate and
    // reaches the guard; its block residue 1.1e6 ≥ SnipOff refuses.
    val bad = docsDf(Seq(1100000L -> words("w", 40)))
    val e = intercept[Exception] {
      Dedup.snipOf(bad).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("snipOf")),
      s"guard must name itself: ${msgs(e).mkString(" | ")}")
    // and a replica-convention id (block base + small residue) PASSES:
    // ScaleSlope shifts copies by IdBlock (3·10⁷ + 8 ≡ 2
    // mod 9, block residue 8 < SnipOff)
    val ok = docsDf(Seq((Dedup.IdBlock * 3 + 8) -> words("w", 40)))
    val out = Dedup.snipOf(ok).collect()
    assert(out.length == 1 &&
      out.head.getLong(0) == Dedup.IdBlock * 3 + 8 + Dedup.SnipOff)
  }

  test("fuzz: against a brute-force reference, every report row is exact and every true engulfment is found (40 seeded corpora)") {
    // the PiiSpec fuzz discipline: seeded random corpora, a pure-JVM
    // O(n²) reference over exact gram sets. Two one-way gates matching
    // the stated contract: (precision) every reported row's pair and
    // containment equal the reference's; (recall) every reference pair
    // with containment == 1.0 is reported — τ ≤ c < 1 pairs MAY be
    // probe-missed, which is the documented trade, so they are not
    // required (but if reported they must be exact).
    val rnd = new scala.util.Random(127127L)
    val vocab = (0 until 25).map(i => s"v$i")
    for (trial <- 1 to 40) {
      val nDocs = 3 + rnd.nextInt(5)
      val docs = (1L to nDocs).map { id =>
        val n = 8 + rnd.nextInt(30)
        // bias towards shared material: half the docs copy a prefix of
        // an earlier doc, else fresh soup
        id -> (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      val withCopies = docs.map { case (id, t) =>
        if (id > 1 && rnd.nextBoolean()) {
          val (_, src) = docs((rnd.nextInt(id.toInt - 1)))
          val ws = src.split(" ")
          val take = math.max(8, rnd.nextInt(ws.length + 1))
          id -> ws.take(take).mkString(" ")
        } else id -> t
      }
      def gramsOfDoc(t: String): Set[String] =
        Dedup.gramsOf(t, Dedup.DecontN).toSet
      val gsets = withCopies.map { case (id, t) => id -> gramsOfDoc(t) }
      val ref = (for {
        (d, gd) <- gsets if gd.nonEmpty
        (c, gc) <- gsets if c != d && gc.size > gd.size
        shared = gd.count(gc.contains)
        if shared.toDouble / gd.size >= Dedup.ContainTau
      } yield (d, c) -> (gd.size.toLong, shared.toLong,
        BigDecimal(shared.toDouble / gd.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toMap
      val got = report(withCopies)
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      got.foreach { case (pair, vals) =>
        assert(ref.get(pair).contains(vals),
          s"trial $trial: reported $pair -> $vals, reference says " +
            s"${ref.get(pair)}\ncorpus: $withCopies")
      }
      ref.foreach { case (pair, vals) =>
        if (vals._3 == 1.0)
          assert(got.contains(pair),
            s"trial $trial: true engulfment $pair missed\n" +
              s"corpus: $withCopies")
      }
    }
  }

  test("partial build materializes its gram scan ONCE — both legs read the stored scan, never re-expanding the corpus") {
    // a lazy gramIds plan consumed by BOTH the postings and the sizes
    // leg would run the batch's full gram expansion twice per store or
    // write. Structural gate, host-independent: the partial's legs must
    // scan the checkpointed relation (ExistingRDD), with the gram HOF
    // chain (regexp + md5) absent from their plans.
    val p = Dedup.containPartials(
      docsDf(Seq(1L -> words("a", 40), 2L -> words("b", 40))), 0L, "tcp")
    p.rels.foreach { case (leg, df) =>
      val s = df.queryExecution.executedPlan.toString
      assert(s.contains("ExistingRDD"),
        s"$leg leg must read the stored gram scan:\n$s")
      assert(!s.contains("regexp_extract_all") && !s.contains("md5"),
        s"$leg leg re-expands the corpus gram scan:\n$s")
    }
  }

  test("q128 algebra: the merge is observable — a delta parent's snippet is found only after promote") {
    val sp = spark
    import sp.implicits._
    val frozen = Seq(1L -> words("a", 40))
    val deltaParent = Seq(2L -> words("b", 40))
    val b0 = Dedup.containPartials(docsDf(frozen), 0L, "tcp")
    val merged = b0.union(Dedup.containPartials(docsDf(deltaParent), 1L, "tcp"))
    val probe = docsDf(Seq(102L -> words("b", 12)))
    def rows(p: graft.queries.Partials) = {
      val gp = Dedup.gramIds(probe)
      Dedup.probeContain(Dedup.collapseContain(p), gp,
        gp.groupBy(org.apache.spark.sql.functions.col("doc_id"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("ng")), "t128")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
    }
    assert(rows(b0).isEmpty, "frozen index must not know the delta parent")
    assert(rows(merged) == Set((102L, 2L, 5L, 5L, 1.0)),
      s"merge must surface the delta container: ${rows(merged)}")
  }

  test("q129 algebra: retract equals rebuilt-without, is observable, and prunes partitions on the stored postings") {
    val sp = spark
    import sp.implicits._
    val b01 = Dedup.containPartials(docsDf(Seq(1L -> words("a", 40))), 0L, "tcp")
      .union(Dedup.containPartials(docsDf(Seq(2L -> words("b", 40))), 1L, "tcp"))
    val p2 = b01.union(
      Dedup.containPartials(docsDf(Seq(3L -> words("c", 40))), 2L, "tcp"))
    val key = "graft.scratch.dir"
    sp.conf.set(key, tmpDir("contain-part"))
    val stored = try p2.store("t129") finally sp.conf.unset(key)
    val demoted = stored.retract(2L)
    assert(partitionsRead(stored("g")) == 3)
    assert(partitionsRead(demoted("g")) == 2,
      "the retraction scan opened the retracted batch's partition")
    // probe with snippets of ALL three parents
    val probe = docsDf(Seq(101L -> words("a", 12), 102L -> words("b", 12),
      103L -> words("c", 12)))
    def rows(p: graft.queries.Partials, tag: String) = {
      val gp = Dedup.gramIds(probe)
      Dedup.probeContain(Dedup.collapseContain(p), gp,
        gp.groupBy(org.apache.spark.sql.functions.col("doc_id"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("ng")), tag)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
    }
    val got = rows(demoted, "t129d")
    val want = rows(b01, "t129r")
    assert(got == want, "demoted index diverged from rebuilt-without")
    // OBSERVABLE: batch-2's parent vanishes from the verdicts
    val before = rows(stored, "t129b")
    assert(before.exists(_._2 == 3L) && !got.exists(_._2 == 3L),
      s"retraction must remove the recalled container: $before vs $got")
  }

  test("every constructed corpus snippet is reported inside its parent at containment 1.0") {
    val sp = spark
    import sp.implicits._
    val docs = Tables.documents(sp, sf)
    val expected = docs
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .where(org.apache.spark.sql.functions.expr(
        "doc_id % 9 = 2 AND size(regexp_extract_all(text, '\\\\S+', 0)) >= 30"))
      .as[Long].collect().toSet
    assert(expected.nonEmpty, "fixture must construct snippets")
    val got = SparkEntry.queries("q127_containment")(sp, sf)
      .as[(Long, Long, Long, Long, Double)].collect()
    expected.foreach { p =>
      val row = got.find(r => r._1 == p + Dedup.SnipOff && r._2 == p)
      assert(row.exists(_._5 == 1.0),
        s"snippet of $p missing or partial: ${row.orElse(Some("absent"))}")
    }
  }
}
