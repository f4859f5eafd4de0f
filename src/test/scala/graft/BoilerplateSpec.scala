package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.lit
import graft.queries.TextAnalysis

/** Behavioral gates for q114 per-source boilerplate stripping — the
  * policy decisions the value-hash oracle cannot falsify on the corpus
  * fixture alone: the exact threshold boundary (a line in exactly half
  * the source's docs IS chrome), the evidence floor (sources under
  * BoilerMinDocs never self-strip), rare lines surviving, the
  * all-lines-removed document, and byte-exact reconstruction of the
  * kept text (via its md5) for a hand-computed page.
  */
class BoilerplateSpec extends SparkSpec {

  private val W = TextAnalysis.BoilerW

  private def docsDf(rows: Seq[(Long, String, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  /** The census partials of `docs`, each in batch `batch`. */
  private def census(docs: DataFrame, batch: Column) =
    TextAnalysis.censusPartials(
      TextAnalysis.lineDigests(TextAnalysis.pageDocs(docs)), batch)

  private def strip(rows: Seq[(Long, String, String)]
      ): Map[Long, (Long, Long, String, Long)] =
    TextAnalysis.boilerStrip(docsDf(rows))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5))))
      .toMap

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The constructed page's expected line list, mirroring pageLines. */
  private def expectedLines(id: Long, src: String, text: String
      ): Seq[String] = {
    val ws = "\\S+".r.findAllIn(text).toArray
    val body =
      if (ws.isEmpty) Seq("")
      else ws.grouped(W).map(_.mkString(" ")).toSeq
    val hdr = Seq(s"nav $src menu home about contact")
    val promo =
      if (id % 17 == 0) Seq(s"promo $src special offer today only") else Nil
    val ftr =
      if (id % 3 != 0) Seq(s"footer $src copyright terms privacy") else Nil
    hdr ++ body ++ promo ++ ftr
  }

  // distinct body words so no accidental cross-doc body duplicates
  private def uniqueText(tag: String, n: Int): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  test("q114: header/footer chrome stripped, rare promo and unique body kept — md5-exact reconstruction") {
    // 12 docs, one source: header in 12/12, footer in ids%3!=0 (8/12),
    // promo only in id 0 (1/12 — under half, kept)
    val rows = (0L until 12L).map(i => (i, uniqueText(s"w$i", 20), "sA"))
    val out = strip(rows)
    assert(out.size == 12)
    rows.foreach { case (id, text, src) =>
      val lines = expectedLines(id, src, text)
      val isChrome = (l: String) =>
        l.startsWith("nav ") || l.startsWith("footer ")
      val kept = lines.filterNot(isChrome)
      val (nLines, nRemoved, keptMd5, keptLen) = out(id)
      assert(nLines == lines.size, s"doc $id n_lines")
      assert(nRemoved == lines.count(isChrome), s"doc $id n_removed")
      val keptText = kept.mkString(" ")
      assert(keptMd5 == md5Hex(keptText), s"doc $id kept text diverged")
      assert(keptLen == keptText.length.toLong, s"doc $id kept_len")
      if (id == 0L)
        assert(keptText.contains("promo sA special offer"),
          "rare promo line must survive")
    }
  }

  test("q114: threshold boundary — a body line in exactly half the docs is chrome, under half is not") {
    // source sB, 4 docs (ids avoid %17 promos). A shared 8-token line
    // opens docs 100 and 101 (cnt 2 of 4 -> 2*2 >= 4, stripped); doc
    // 102's opener appears only there (kept).
    val shared = (1 to W).map(i => s"sh$i").mkString(" ")
    val rows = Seq(
      (100L, shared + " " + uniqueText("a", 8), "sB"),
      (101L, shared + " " + uniqueText("b", 8), "sB"),
      (103L, uniqueText("c", 16), "sB"),
      (104L, uniqueText("d", 16), "sB"))
    val out = strip(rows)
    // doc 100: header + shared line + 1 unique body line (+footer id%3=1)
    val (_, removed100, md5100, _) = out(100L)
    assert(removed100 == 3, "header + shared-at-half + footer")
    assert(md5100 == md5Hex(uniqueText("a", 8)),
      "only the unique body tail survives")
    // doc 103: nothing shared except chrome; its body survives whole
    val (_, removed103, md5103, _) = out(103L)
    assert(removed103 == 2, "header + footer only")
    assert(md5103 == md5Hex(uniqueText("c", 16).split(" ").grouped(W)
      .map(_.mkString(" ")).mkString(" ")))
  }

  test("q114: all-lines-removed document hashes the empty string") {
    // 3 identical docs in one source: body line cnt 3/3 stripped,
    // header stripped, footers (ids 200,202) cnt 2/3 stripped
    val same = (1 to W).map(i => s"z$i").mkString(" ")
    val rows = Seq((200L, same, "sC"), (201L, same, "sC"),
      (202L, same, "sC"))
    val out = strip(rows)
    val (nLines, nRemoved, keptMd5, keptLen) = out(200L)
    assert(nLines == 3 && nRemoved == 3, s"$nLines/$nRemoved")
    assert(keptMd5 == md5Hex("") && keptLen == 0L)
  }

  test("q114: sources under the evidence floor never self-strip") {
    // single-doc and two-doc sources: every line is at 100% in-source
    // frequency, but n_docs < BoilerMinDocs exempts them
    val rows = Seq(
      (300L, uniqueText("p", 10), "solo"),
      (301L, uniqueText("q", 10), "duo"),
      (302L, uniqueText("q", 10), "duo")) // identical twin docs
    val out = strip(rows)
    rows.foreach { case (id, _, _) =>
      val (_, nRemoved, _, _) = out(id)
      assert(nRemoved == 0L, s"doc $id stripped below the evidence floor")
    }
  }

  // ---- q115/q116 lifecycle: the census's SUM algebra proven directly
  // (the FrozenIndexSpec discipline on the third index type)

  private def chromeSets(boiler: org.apache.spark.sql.DataFrame
      ): Map[String, Set[String]] =
    boiler.collect()
      .map(r => r.getString(0) ->
        r.getSeq[String](1).toSet)
      .toMap

  /** 12 docs over two sources, built so the chrome SET (not just the
    * counts) changes across the lifecycle: sX's early docs (0,2,4)
    * share a "bp" opening line, its late docs (6,8,10) share an "mm"
    * line — each sits at exactly half of sX only when the batches that
    * carry it are in the index, so a merge- or retract-ignoring bug
    * changes strip behavior, not only census counts. */
  private def lifecycleRows: Seq[(Long, String, String)] =
    (0L until 12L).map { i =>
      val src = if (i % 2 == 0) "sX" else "sY"
      val text =
        if (i % 2 == 0 && i < 6) (1 to W).map(j => s"bp$j").mkString(" ") +
          " " + uniqueText(s"x$i", 8)
        else if (i % 2 == 0) (1 to W).map(j => s"mm$j").mkString(" ") +
          " " + uniqueText(s"x$i", 8)
        else uniqueText(s"y$i", 16)
      (i, text, src)
    }

  test("q115 algebra: merged partial censuses equal the census rebuilt over the union — and the merge is observable") {
    val rows = lifecycleRows
    val b0 = census(docsDf(rows.filter(_._1 < 6)), lit(0L))
    val merged = b0.union(
      census(docsDf(rows.filter(_._1 >= 6)), lit(1L)))
    val rebuilt = TextAnalysis.boilerStrip(docsDf(rows))
    // stripping ALL docs against the merged-collapsed census must
    // equal the one-shot q114 rewrite over the union
    val viaIndex = TextAnalysis.stripAgainst(
      docsDf(rows), TextAnalysis.collapseBoiler(merged))
    assert(viaIndex.collect().toSet == rebuilt.collect().toSet,
      "merged census diverged from rebuilt")
    // the delta batch changed the chrome SET, so a merge-dropping bug
    // is visible at strip level: "mm" (delta docs 6,8,10 = 3 of sX's
    // 6) is chrome only in the merged census; "bp" (3 of 6) stays at
    // the exactly-half boundary
    val mergedSets = chromeSets(TextAnalysis.collapseBoiler(merged))
    val frozenSets = chromeSets(TextAnalysis.collapseBoiler(b0))
    assert(mergedSets("sX").size == 4,
      s"header+footer+bp+mm expected: $mergedSets")
    assert(frozenSets("sX") != mergedSets("sX"),
      "fixture must make the merge observable in the chrome set")
  }

  test("q116 algebra: retract equals rebuilt-without, is observable, and prunes partitions on the stored index") {
    val rows = lifecycleRows
    val sp = spark
    val b01 = census(docsDf(rows.filter(_._1 < 4)), lit(0L))
      .union(census(docsDf(rows.filter(r => r._1 >= 4 && r._1 < 8)), lit(1L)))
    val p2 = b01.union(
      census(docsDf(rows.filter(_._1 >= 8)), lit(2L)))
    val key = "graft.scratch.dir"
    sp.conf.set(key, tmpDir("boiler-part"))
    val stored = try p2.store("t116") finally sp.conf.unset(key)
    val demoted = stored.retract(2L)
    assert(partitionsRead(stored("counts")) == 3)
    assert(partitionsRead(demoted("counts")) == 2,
      "the retraction scan opened the retracted batch's partition")
    val probe = docsDf(rows)
    val got = TextAnalysis.stripAgainst(
      probe, TextAnalysis.collapseBoiler(demoted)).collect().toSet
    val want = TextAnalysis.stripAgainst(
      probe, TextAnalysis.collapseBoiler(b01)).collect().toSet
    assert(got == want, "demoted census diverged from rebuilt-without")
    // and the retraction is OBSERVABLE: with batch 2 promoted, "mm"
    // (docs 6,8,10 = 3 of 6) is chrome and docs 8/10 strip it; after
    // the demote it is 1 of 4 and survives — a retraction-ignoring
    // bug fails this, not just the count gate
    val before = TextAnalysis.stripAgainst(
      probe, TextAnalysis.collapseBoiler(stored)).collect().toSet
    assert(before != got,
      "fixture must make the retraction observable in strip behavior")
  }

  test("q114: empty document is one empty body line plus chrome") {
    val rows = Seq(
      (400L, "", "sE"), (401L, uniqueText("e", 5), "sE"),
      (403L, uniqueText("f", 5), "sE"))
    val out = strip(rows)
    val (nLines, _, _, _) = out(400L)
    // header + one empty body window (+footer: 400%3=1)
    assert(nLines == 3L, s"got $nLines")
  }
}
