package graft

import graft.queries.{Dedup, Partials, Scratch, Similarity, TextAnalysis}
import graft.streaming.StreamingPromote
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The [[Partials]] lifecycle laws, run over every index family's
  * `build` on the sf0.001 corpus: lexical, semantic, boilerplate
  * census, containment, line containment and the re-freeze store. Each
  * family contributes two disjoint batches (0 and 1) and the collapse
  * its probe reads; the laws are what every promote/demote in the
  * catalog and in StreamingPromote relies on.
  */
class PartialsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private final case class Family(name: String, batch0: DataFrame,
      batch1: DataFrame, build: (DataFrame, Long) => Partials,
      collapse: Partials => Seq[DataFrame], shape: Map[String, String])

  private def families: Seq[Family] = {
    val docs = Tables.documents(spark, sf).select(
      col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
    val m = col("doc_id") % 3
    val (d0, d1) = (docs.filter(m === 0), docs.filter(m === 1))
    val (e, cent) = Similarity.semIndexInputs(spark, sf)
    val vm = col("vec_id") % 3
    val (_, chrome) = TextAnalysis.lineRelAndChrome(
      TextAnalysis.pageDocs(docs), "tpchrome")
    def containShape(idx: Dedup.ContainIndex) = Seq(idx.g, idx.sizes, idx.dfs)
    Seq(
      Family("lexical", d0, d1, Dedup.lexPartials, p => {
        val idx = Dedup.collapseLex(p); Seq(idx.exact, idx.bands) },
        Dedup.LexShape),
      Family("semantic", e.filter(vm === 0), e.filter(vm === 1),
        Similarity.semPartials(_, cent, _),
        p => Seq(Similarity.collapseSem(cent, p).lists), Similarity.SemShape),
      Family("census", d0, d1, TextAnalysis.censusPartials,
        p => Seq(TextAnalysis.collapsedCensus(p)), TextAnalysis.CensusShape),
      Family("containment", d0, d1, Dedup.containPartials(_, _, "tpc"),
        p => containShape(Dedup.collapseContain(p)), Dedup.ContainShape),
      Family("line containment", d0, d1,
        TextAnalysis.lineContainPartials(_, chrome, _, "tplc"),
        p => containShape(Dedup.collapseContain(p)), Dedup.ContainShape),
      Family("re-freeze store", d0, d1,
        TextAnalysis.lineRefreezePartials(_, chrome, _, "tprf"),
        p => containShape(TextAnalysis.collapseLineState(p)) :+
          TextAnalysis.collapsedCensus(p),
        Map("surv" -> RefreezePostings, "strip" -> RefreezePostings) ++
          TextAnalysis.CensusShape))
  }

  private val RefreezePostings =
    "source STRING, doc_id BIGINT, gid BIGINT, batch_id BIGINT"

  private def probeDocs = {
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 3 === 2).limit(40)
  }

  /** Row multiset, order-free. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def rowsOf(p: Partials): Seq[(String, Seq[String])] =
    p.rels.map { case (n, df) => n -> rows(df) }

  private def dirsFor(f: Family, p: Partials): Partials.Dirs =
    p.rels.map { case (n, _) =>
      n -> tmpDir(s"partials-${f.name.replace(' ', '-')}-$n") }

  test("retracting a union equals the original after collapse") {
    for (f <- families) {
      val p0 = f.build(f.batch0, 0L)
      val want = f.collapse(p0).map(rows)
      assert(want.exists(_.nonEmpty), s"${f.name}: batch 0 collapses to nothing")
      val merged = p0.union(f.build(f.batch1, 1L))
      assert(f.collapse(merged).map(rows) != want,
        s"${f.name}: batch 1 is not observable in the collapse")
      assert(f.collapse(merged.retract(1L)).map(rows) == want,
        s"${f.name}: retract(union) diverged from the original")
    }
  }

  test("write then demote on disk equals retract; rewriting the same batch id is idempotent") {
    for (f <- families) {
      val (p0, p1) = (f.build(f.batch0, 0L), f.build(f.batch1, 1L))
      val dirs = dirsFor(f, p0)
      p0.write(dirs, 0L)
      p1.write(dirs, 1L)
      // a replayed micro-batch lands under the same id: it overwrites
      // its own partitions instead of appending a second copy
      p1.write(dirs, 1L)
      val merged = p0.union(p1)
      assert(rowsOf(Partials.read(spark, dirs, f.shape)) == rowsOf(merged),
        s"${f.name}: rewriting batch 1 changed the stored rows")
      Partials.demote(dirs, 1L)
      assert(rowsOf(Partials.read(spark, dirs, f.shape)) == rowsOf(merged.retract(1L)),
        s"${f.name}: demote on disk diverged from retract")
      assert(f.collapse(Partials.read(spark, dirs, f.shape)).map(rows)
        == f.collapse(p0).map(rows),
        s"${f.name}: demoted store collapses differently from batch 0")
    }
  }

  test("retract over store prunes the retracted batch's files") {
    val key = "graft.scratch.dir"
    for (f <- families) {
      val tag = s"tp_${f.name.replace(' ', '_')}"
      val merged = f.build(f.batch0, 0L).union(f.build(f.batch1, 1L))
      spark.conf.set(key, tmpDir("partials-store"))
      try {
        val stored = merged.store(tag)
        val want = rowsOf(merged.retract(1L))
        // the retracted batch's stored files are gone: a scan that
        // opened them would fail, a pruned scan never notices
        stored.rels.foreach { case (n, _) =>
          Scratch.deleteTree(
            s"${Scratch.scratchRoot(spark)}/${tag}_$n/batch_id=1")
        }
        val demoted = stored.retract(1L)
        assert(rowsOf(demoted) == want,
          s"${f.name}: pruned retraction diverged from retract")
      } finally spark.conf.unset(key)
    }
  }

  test("a store whose every batch was demoted reads empty and probes to an empty answer") {
    val stores = families.map { f =>
      val (p0, p1) = (f.build(f.batch0, 0L), f.build(f.batch1, 1L))
      val dirs = dirsFor(f, p0)
      p0.write(dirs, 0L)
      p1.write(dirs, 1L)
      Seq(0L, 1L).foreach(Partials.demote(dirs, _))
      val live = Partials.read(spark, dirs, f.shape)
      assert(live.rels.forall(_._2.isEmpty), s"${f.name}: demoted rows survive")
      assert(f.collapse(live).forall(_.isEmpty), s"${f.name}: collapse not empty")
      f.name -> dirs.toMap
    }.toMap
    // an empty index answers: every probe is new, nothing is contained
    val probe = probeDocs
    val lex = stores("lexical")
    val lexAns = StreamingPromote.probeLexLive(spark, lex("exact"),
      lex("bands"), probe)
    assert(lexAns.count() == probe.count() && probe.count() > 0)
    assert(lexAns.filter(col("exact_of") =!= -1L || col("near_of") =!= -1L)
      .isEmpty)
    val (e, cent) = Similarity.semIndexInputs(spark, sf)
    val probeE = e.filter(col("vec_id") % 3 === 2)
    val semAns = StreamingPromote.probeSemLive(spark, cent,
      stores("semantic").toSeq, probeE)
    assert(semAns.count() == probeE.count() && probeE.count() > 0)
    assert(semAns.filter(!col("novel")).isEmpty)
    assert(StreamingPromote.probeContainLive(spark,
      stores("containment").toSeq, probe).isEmpty)
    val pages = TextAnalysis.pageDocs(Tables.documents(spark, sf).select(
      col("doc_id").cast("long").as("doc_id"), col("source"), col("text")))
    val (_, chrome) = TextAnalysis.lineRelAndChrome(pages, "tpdemoted")
    assert(StreamingPromote.probeLineContainLive(spark, chrome,
      stores("line containment").toSeq, probe).isEmpty)
  }

  test("durable scratch: two stores building the same batch id keep their own scans") {
    val key = "graft.scratch.dir"
    val docs = Tables.documents(spark, sf).select(
      col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
    val (a, b) = (docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1))
    val (_, chrome) = TextAnalysis.lineRelAndChrome(
      TextAnalysis.pageDocs(docs), "tpchrome2")
    val builds: Seq[(String, (DataFrame, String) => Partials)] = Seq(
      "containment" -> ((d, t) => Dedup.containPartials(d, 0L, t)),
      "re-freeze store" -> ((d, t) => TextAnalysis.lineRefreezePartials(
        d, chrome, 0L, t)))
    for ((name, build) <- builds) {
      val want = rowsOf(build(a, "tpwant"))
      spark.conf.set(key, tmpDir("partials-durable"))
      try {
        val first = build(a, "tpstore1")
        val second = build(b, "tpstore2")
        assert(rowsOf(first) == want,
          s"$name: the second store's build overwrote the first's scan")
        assert(rowsOf(second) != want)
      } finally spark.conf.unset(key)
    }
  }
}
