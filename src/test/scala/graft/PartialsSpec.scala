package graft

import graft.queries.{Dedup, Partials, Scratch, Similarity, TextAnalysis}
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
      collapse: Partials => Seq[DataFrame])

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
        val idx = Dedup.collapseLex(p); Seq(idx.exact, idx.bands) }),
      Family("semantic", e.filter(vm === 0), e.filter(vm === 1),
        Similarity.semPartials(_, cent, _),
        p => Seq(Similarity.collapseSem(cent, p).lists)),
      Family("census", d0, d1, TextAnalysis.censusPartials,
        p => Seq(TextAnalysis.collapsedCensus(p))),
      Family("containment", d0, d1, Dedup.containPartials,
        p => containShape(Dedup.collapseContain(p))),
      Family("line containment", d0, d1,
        TextAnalysis.lineContainPartials(_, chrome, _, "tplc"),
        p => containShape(Dedup.collapseContain(p))),
      Family("re-freeze store", d0, d1,
        TextAnalysis.lineRefreezePartials(_, chrome, _),
        p => containShape(TextAnalysis.collapseLineState(p)) :+
          TextAnalysis.collapsedCensus(p)))
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
      assert(rowsOf(Partials.read(spark, dirs)) == rowsOf(merged),
        s"${f.name}: rewriting batch 1 changed the stored rows")
      Partials.demote(dirs, 1L)
      assert(rowsOf(Partials.read(spark, dirs)) == rowsOf(merged.retract(1L)),
        s"${f.name}: demote on disk diverged from retract")
      assert(f.collapse(Partials.read(spark, dirs)).map(rows)
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
}
