package graft

import graft.queries.{Dedup, Partials, Scratch, Similarity, TextAnalysis}
import graft.streaming.StreamingPromote
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The [[Partials]] lifecycle laws, run over every index family's
  * `build` on the sf0.001 corpus: lexical, semantic, boilerplate
  * census, containment, line containment and the re-freeze store. Each
  * family contributes two disjoint batches (0 and 1), its build (batch
  * as a column) and the collapse its probe reads; the laws are what
  * every promote/demote in the catalog and in StreamingPromote relies
  * on.
  */
class PartialsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private final case class Family(name: String, batch0: DataFrame,
      batch1: DataFrame, build: (DataFrame, Column) => Partials,
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
    def lines(d: DataFrame) = TextAnalysis.lineDigests(TextAnalysis.pageDocs(d))
    Seq(
      Family("lexical", d0, d1, Dedup.lexPartials, p => {
        val idx = Dedup.collapseLex(p); Seq(idx.exact, idx.bands) },
        Dedup.LexShape),
      Family("semantic", e.filter(vm === 0), e.filter(vm === 1),
        Similarity.semPartials(_, cent, _),
        p => Seq(Similarity.collapseSem(cent, p).lists), Similarity.SemShape),
      Family("census", d0, d1,
        (d, b) => TextAnalysis.censusPartials(lines(d), b),
        p => Seq(TextAnalysis.collapsedCensus(p)), TextAnalysis.CensusShape),
      Family("containment", d0, d1,
        (d, b) => Dedup.containPartials(Dedup.gramIds(d), b, "tpc"),
        p => containShape(Dedup.collapseContain(p)), Dedup.ContainShape),
      Family("line containment", d0, d1,
        (d, b) => Dedup.containPartials(TextAnalysis.lineGramIds(
          TextAnalysis.pageDocs(d), chrome), b, "tplc"),
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
      val p0 = f.build(f.batch0, lit(0L))
      val want = f.collapse(p0).map(rows)
      assert(want.exists(_.nonEmpty), s"${f.name}: batch 0 collapses to nothing")
      val merged = p0.union(f.build(f.batch1, lit(1L)))
      assert(f.collapse(merged).map(rows) != want,
        s"${f.name}: batch 1 is not observable in the collapse")
      assert(f.collapse(merged.retract(1L)).map(rows) == want,
        s"${f.name}: retract(union) diverged from the original")
    }
  }

  test("write then demote on disk equals retract; rewriting the same batch id is idempotent") {
    for (f <- families) {
      val (p0, p1) = (f.build(f.batch0, lit(0L)), f.build(f.batch1, lit(1L)))
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
      val merged = f.build(f.batch0, lit(0L)).union(f.build(f.batch1, lit(1L)))
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
      val (p0, p1) = (f.build(f.batch0, lit(0L)), f.build(f.batch1, lit(1L)))
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
      "containment" -> ((d, t) =>
        Dedup.containPartials(Dedup.gramIds(d), lit(0L), t)),
      "re-freeze store" -> ((d, t) => TextAnalysis.lineRefreezePartials(
        d, chrome, lit(0L), t)))
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

  test("durable scratch: an empty relation of every family's shape stores and reads back empty with its shape") {
    val key = "graft.scratch.dir"
    val shapes = Seq(Dedup.LexShape, Similarity.SemShape,
      TextAnalysis.CensusShape, Dedup.ContainShape,
      Map("surv" -> RefreezePostings, "strip" -> RefreezePostings))
    def fields(t: org.apache.spark.sql.types.StructType) =
      t.fields.toSeq.map(f => f.name -> f.dataType)
    spark.conf.set(key, tmpDir("partials-empty"))
    try shapes.zipWithIndex.foreach { case (shape, i) =>
      val empty = Partials(shape.toSeq.map { case (n, ddl) =>
        n -> spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
      })
      empty.store(s"tpempty$i").rels.foreach { case (n, df) =>
        assert(fields(df.schema) == fields(
          org.apache.spark.sql.types.StructType.fromDDL(shape(n))),
          s"$n: stored empty relation changed shape")
        assert(df.isEmpty, s"$n: stored empty relation reads back rows")
      }
    } finally spark.conf.unset(key)
  }

  test("the six merge/retract entries build each stored relation from one scan of their input") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val key = "graft.scratch.dir"
    val audit =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // every store is a parquet write in durable mode, so each stored
    // relation's build is an execution of its own the listener sees
    def counted(entry: String, node: PartialFunction[SparkPlan, Unit]): Int = {
      spark.conf.set(key, tmpDir("partials-scans"))
      try executionsOf(SparkEntry.queries(entry)(spark, sf).collect())
        .map(qe => audit.collectWithSubqueries(qe.executedPlan)(node).size).sum
      finally spark.conf.unset(key)
    }
    val docScans: PartialFunction[SparkPlan, Unit] = {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("documents")) =>
    }
    // the semantic entries scan a materialized embedding relation: count
    // their centroid assignments (the broadcast centroid fan-out) instead
    val assignments: PartialFunction[SparkPlan, Unit] = {
      case _: BroadcastNestedLoopJoinExec =>
    }
    // (entry, what is counted, stored relations, the probe's own: the
    // lexical probe's exact and band legs, the semantic probe's
    // assignment under both of its legs)
    val cases = Seq(
      ("q100_lex_index_merge", docScans, 2, 2),
      ("q102_lex_index_retract", docScans, 2, 2),
      ("q115_boiler_index_merge", docScans, 2, 0),
      ("q116_boiler_index_retract", docScans, 2, 0),
      ("q101_sem_index_merge", assignments, 1, 2),
      ("q103_sem_index_retract", assignments, 1, 2))
    for ((entry, node, stored, probe) <- cases) {
      val n = counted(entry, node)
      assert(n == stored + probe, s"$entry: $n scans for $stored stored " +
        s"relations and $probe of the probe's own")
    }
  }
}
