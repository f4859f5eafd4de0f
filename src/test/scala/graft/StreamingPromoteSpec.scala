package graft

import graft.queries.{Dedup, Partials, Similarity, TextAnalysis}
import graft.streaming.StreamingPromote
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming index PROMOTE (the twin of the batch lifecycle entries):
  * landing delta micro-batches in live stored index state through the
  * one gated `StreamingPromote.promote` must converge EXACTLY with the
  * batch one-shot merge — under any in-order chunking of the delta —
  * must absorb replayed and redelivered documents without changing a
  * verdict, and a demote must equal an index that never saw the batch.
  */
class StreamingPromoteSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  // the q100 batch split, spelled once: frozen ≡ 0,1,2 (mod 10),
  // delta ≡ 3,4,5, probe ≡ 6..9
  private def docParts = {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val m = col("doc_id") % 10
    (docs.filter(m < 3), docs.filter(m >= 3 && m < 6), docs.filter(m >= 6))
  }

  private def lexRows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq

  /** Drive the lexical promote stream over `delta` in `chunks` ordered
    * micro-batches against fresh state dirs; returns (probe rows,
    * state dirs, the chunk list) for follow-up assertions.
    */
  private def runLex(chunks: Int) = {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val (frozen, delta, probe) = docParts
    val exactDir = tmpDir("spromote-exact"); val bandsDir = tmpDir("spromote-bands")
    // bootstrap: the frozen corpus is a promoted batch like any other,
    // seeded under a reserved negative id before the stream starts
    StreamingPromote.promoteBatch(Dedup.lexPartials(frozen, -1L),
      StreamingPromote.lexDirs(exactDir, bandsDir), -1L)
    val deltaRows = delta.as[(Long, String)].collect()
    val groups = deltaRows.grouped(
      math.max(1, (deltaRows.length + chunks - 1) / chunks)).toSeq
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPromote.promoteLexGated(
      mem.toDF().toDF("doc_id", "text"), exactDir, bandsDir)
    try {
      groups.foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    (lexRows(StreamingPromote.probeLexLive(sp, exactDir, bandsDir, probe)),
      exactDir, bandsDir, groups)
  }

  test("lexical: streamed promote converges with batch q100 under 1-chunk AND 3-chunk deliveries") {
    val batch = lexRows(
      SparkEntry.queries("q100_lex_index_merge")(spark, sf))
    assert(batch.nonEmpty, "q100 returned no probe rows — spec is vacuous")
    assert(runLex(1)._1 == batch, "single-chunk stream diverged from batch merge")
    assert(runLex(3)._1 == batch, "3-chunk stream diverged from batch merge")
  }

  test("lexical: a replayed micro-batch changes nothing (at-least-once promote)") {
    val (got, exactDir, bandsDir, groups) = runLex(3)
    val sp = spark
    import sp.implicits._
    def promoteDirect(batchId: Long) = StreamingPromote.promoteBatch(
      Dedup.lexPartials(groups(1).toSeq.toDF("doc_id", "text"), batchId),
      StreamingPromote.lexDirs(exactDir, bandsDir), batchId)
    // redeliver the middle micro-batch under its ORIGINAL batch id —
    // what Structured Streaming does after a failure before the sink
    // commit was recorded: the partition overwrite absorbs it
    promoteDirect(1L)
    val (_, _, probe) = docParts
    assert(lexRows(StreamingPromote.probeLexLive(sp, exactDir, bandsDir, probe))
      == got, "replayed batch changed probe verdicts")
    // and even a MISID'd redelivery past the gate (a fresh batch id —
    // plain at-least-once duplication, no overwrite to save us) is
    // absorbed by the min-merge algebra itself
    promoteDirect(99L)
    assert(lexRows(StreamingPromote.probeLexLive(sp, exactDir, bandsDir, probe))
      == got, "duplicated delta under a new batch id changed probe verdicts")
  }

  test("lexical: demoting a promoted micro-batch ≡ an index that never saw it") {
    val (_, exactDir, bandsDir, groups) = runLex(3)
    val sp = spark
    import sp.implicits._
    // drop the MIDDLE micro-batch (bad data found after promote):
    // physically one partition-directory delete per state table
    StreamingPromote.demoteLexBatch(exactDir, bandsDir, 1L)
    val (frozen, _, probe) = docParts
    val got = lexRows(
      StreamingPromote.probeLexLive(sp, exactDir, bandsDir, probe))
    val surviving = frozen
      .union(groups(0).toSeq.toDF("doc_id", "text"))
      .union(groups(2).toSeq.toDF("doc_id", "text"))
    assert(got == lexRows(Dedup.probeLex(Dedup.buildLexIndex(surviving), probe)),
      "demoted live state diverged from an index built without the batch")
    // and re-promoting the same documents under a fresh id restores
    // the full-merge verdicts (demote → re-promote round trip)
    StreamingPromote.promoteBatch(
      Dedup.lexPartials(groups(1).toSeq.toDF("doc_id", "text"), 7L),
      StreamingPromote.lexDirs(exactDir, bandsDir), 7L)
    assert(lexRows(StreamingPromote.probeLexLive(sp, exactDir, bandsDir, probe))
      == lexRows(SparkEntry.queries("q100_lex_index_merge")(sp, sf)),
      "demote → re-promote did not restore the merged verdicts")
  }

  private def semRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getBoolean(4))).toSeq

  test("semantic: streamed promote under the frozen quantizer converges with batch q101") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val (e, cent) = Similarity.semIndexInputs(sp, sf)
    val dm = Similarity.DeltaMax
    val frozen = e.filter(col("vec_id") >= dm)
    val delta = e.filter(col("vec_id") >= dm / 2 && col("vec_id") < dm)
    val probe = e.filter(col("vec_id") < dm / 2)
    val dirs = Seq("lists" -> tmpDir("spromote-lists"))
    StreamingPromote.promoteBatch(
      Similarity.semPartials(frozen, cent, -1L), dirs, -1L)
    val deltaRows = delta.select(col("vec_id"), col("embedding"), col("nrm"))
      .as[(Long, Array[Float], Double)].collect().sortBy(_._1)
    val chunks = deltaRows.grouped(
      math.max(1, (deltaRows.length + 2) / 3)).toSeq
    assert(chunks.length == 3 && chunks(0).length >= 4)
    val mem = MemoryStream[(Long, Array[Float], Double)]
    val q = StreamingPromote.promote(
      mem.toDF().toDF("vec_id", "embedding", "nrm"), "vec_id", dirs)(
      Similarity.semPartials(_, cent, _))
    try {
      mem.addData(chunks(0).toIndexedSeq)
      q.processAllAvailable()
      // micro-batch 1 REDELIVERS half of micro-batch 0's vectors under a
      // fresh batch id — the gate keeps them in micro-batch 0 only
      mem.addData((chunks(1) ++ chunks(0).take(chunks(0).length / 2))
        .toIndexedSeq)
      q.processAllAvailable()
      mem.addData(chunks(2).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = semRows(StreamingPromote.probeSemLive(sp, cent, dirs, probe))
    val batch = semRows(SparkEntry.queries("q101_sem_index_merge")(sp, sf))
    assert(batch.nonEmpty, "q101 returned no probe rows — spec is vacuous")
    assert(streamed == batch, "streamed semantic promote diverged from batch merge")
    // demote micro-batch 0: the redelivered vectors must vanish WITH it
    // (a copy leaked into micro-batch 1 would survive the demote)
    Partials.demote(dirs, 0L)
    def vecs(rows: Seq[(Long, Array[Float], Double)]) =
      rows.toDF("vec_id", "embedding", "nrm")
    val without = semRows(Similarity.probeSem(Similarity.buildSemIndex(
      frozen.select(col("vec_id"), col("embedding"), col("nrm"))
        .union(vecs(chunks(1).toSeq)).union(vecs(chunks(2).toSeq)), cent),
      probe))
    val demoted = semRows(StreamingPromote.probeSemLive(sp, cent, dirs, probe))
    assert(demoted == without,
      "demoted semantic lists diverged from lists built without the batch")
    assert(demoted != streamed, "fixture must make the demote observable")
  }

  // ---- census lifecycle (the q115/q116 twin): SUM algebra, so the
  // document gate is the correctness requirement, not hygiene

  private def censusRows(p: Partials) =
    TextAnalysis.collapsedCensus(p)
      .select(col("source"), col("lmd5"), col("cnt"), col("n_docs"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def builtRows(docs: org.apache.spark.sql.DataFrame) =
    censusRows(TextAnalysis.censusPartials(docs, 0L))

  test("census: streamed gated promote converges with the one-shot census; demote ≡ never-promoted; duplicate redelivery absorbed") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val docs = Tables.documents(sp, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val m = col("doc_id") % 7
    val frozen = docs.filter(m < 3)
    val delta = docs.filter(m >= 3 && m < 5)
    val dirs = Seq("counts" -> tmpDir("spromote-counts"),
      "srcn" -> tmpDir("spromote-srcn"))
    StreamingPromote.promoteBatch(
      TextAnalysis.censusPartials(frozen, -1L), dirs, -1L)
    val deltaRows = delta.as[(Long, String, String)].collect()
    val groups = deltaRows.grouped(
      math.max(1, (deltaRows.length + 1) / 2)).toSeq
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingPromote.promote(
      mem.toDF().toDF("doc_id", "text", "source"), "doc_id", dirs)(
      TextAnalysis.censusPartials)
    try {
      groups.foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      // cross-batch redelivery of already-promoted documents: the SUM
      // algebra would double-count these without the doc gate
      mem.addData(groups(0).take(3).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val oneShot = builtRows(docs.filter(m < 5))
    assert(oneShot.nonEmpty, "fixture census is empty — spec is vacuous")
    assert(censusRows(Partials.read(sp, dirs, TextAnalysis.CensusShape)) == oneShot,
      "streamed census diverged from the one-shot build (gate leak?)")
    // demote the SECOND delta micro-batch (batch id 1): the directory
    // drop must equal a census that never counted those documents
    Partials.demote(dirs, 1L)
    val without = builtRows(
      frozen.union(groups(0).toSeq.toDF("doc_id", "text", "source")))
    assert(censusRows(Partials.read(sp, dirs, TextAnalysis.CensusShape)) == without,
      "demoted census diverged from never-promoted")
  }

  // ---- containment lifecycle (the q128/q129 twin): append-pure
  // postings with df collapsed at probe time, so like the census the
  // doc gate is the correctness requirement — a document promoted under
  // two batch ids doubles its postings, inflating df and n_shared.

  private def containRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toSeq

  test("containment: streamed gated promote on RocksDB state converges with batch q128 under chunked delivery; cross-batch redelivery absorbed; demote ≡ rebuilt-without") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    // the 100 TB configuration's state provider, engaged for the dedup
    // gate's keyed state (the RocksDbStateSpec discipline)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = sp.conf.getOption(key)
    sp.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      // batch q128's split, spelled once: frozen ≡ 0,1,2 (mod 7),
      // delta ≡ 3,4; probe = snippets of the index population ∪ the
      // unseen docs (≡ 5,6) — q128's own probe population
      val docs = Tables.documents(sp, sf).select(col("doc_id"), col("text"))
      val m = col("doc_id") % 7
      val frozen = docs.filter(m < 3)
      val delta = docs.filter(m >= 3 && m < 5)
      val probeDocs = Dedup.snipOf(docs.filter(m < 5))
        .unionByName(docs.filter(m >= 5))
      val dirs = Seq("g" -> tmpDir("spromote-cg"),
        "sizes" -> tmpDir("spromote-csz"))
      StreamingPromote.promoteBatch(Dedup.containPartials(frozen, -1L, "spc"),
        dirs, -1L)
      val deltaRows = delta.as[(Long, String)].collect().sortBy(_._1)
      val chunks = deltaRows.grouped(
        math.max(1, (deltaRows.length + 2) / 3)).toSeq
      assert(chunks.length == 3 && chunks(0).length >= 4)
      val mem = MemoryStream[(Long, String)]
      val q = StreamingPromote.promote(
        mem.toDF().toDF("doc_id", "text"), "doc_id", dirs)(
        Dedup.containPartials(_, _, "spc"))
      try {
        mem.addData(chunks(0).toIndexedSeq)
        q.processAllAvailable()
        // micro-batch 1 REDELIVERS half of micro-batch 0's documents
        // under a fresh batch id — the append algebra would double
        // their postings without the gate
        mem.addData((chunks(1) ++ chunks(0).take(chunks(0).length / 2))
          .toIndexedSeq)
        q.processAllAvailable()
        mem.addData(chunks(2).toIndexedSeq)
        q.processAllAvailable()
        val metrics = Option(q.lastProgress)
          .flatMap(_.stateOperators.headOption)
          .map(_.customMetrics.keySet())
          .getOrElse(java.util.Collections.emptySet[String]())
        assert(metrics.stream().anyMatch(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb metrics in $metrics")
      } finally q.stop()
      val streamed = containRows(
        StreamingPromote.probeContainLive(sp, dirs, probeDocs))
      val batch = containRows(
        SparkEntry.queries("q128_contain_index_merge")(sp, sf))
      assert(batch.nonEmpty, "q128 returned no probe rows — spec is vacuous")
      assert(streamed == batch,
        "streamed containment promote diverged from batch q128")
      // demote micro-batch 1 (the gate kept the redelivered docs OUT of
      // its partition, so the drop removes exactly chunks(1) — a leaked
      // duplicate would make this demote partial and fail the gate)
      Partials.demote(dirs, 1L)
      val surviving = frozen
        .union(chunks(0).toSeq.toDF("doc_id", "text"))
        .union(chunks(2).toSeq.toDF("doc_id", "text"))
      val gp = Dedup.gramIds(probeDocs)
      val want = containRows(Dedup.probeContain(
        Dedup.collapseContain(Dedup.containPartials(surviving, 0L, "tpw")), gp,
        gp.groupBy(col("doc_id")).agg(count(lit(1)).as("ng")), "tpromw"))
      assert(containRows(StreamingPromote.probeContainLive(
        sp, dirs, probeDocs)) == want,
        "demoted containment state diverged from rebuilt-without")
    } finally {
      saved.fold(sp.conf.unset(key))(v => sp.conf.set(key, v))
    }
  }

  test("line containment: streamed gated promote on RocksDB under frozen chrome converges with batch q131 under chunked delivery; cross-batch redelivery absorbed; demote ≡ rebuilt-without") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = sp.conf.getOption(key)
    sp.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      // batch q131's split, spelled once: bootstrap ≡ 0,1,2 (mod 7) —
      // which also FREEZES the chrome census — delta ≡ 3,4; probe =
      // quotes of the index population ∪ the unseen docs (≡ 5,6)
      val docs = Tables.documents(sp, sf).select(
        col("doc_id").cast("long").as("doc_id"), col("source"),
        col("text"))
      val m = col("doc_id") % 7
      val frozen = docs.filter(m < 3)
      val delta = docs.filter(m >= 3 && m < 5)
      val probeDocs = TextAnalysis.quoteOf(docs.filter(m < 5))
        .unionByName(docs.filter(m >= 5)
          .select(col("doc_id"), col("source"), col("text")))
      // the publish-time freeze: census over the bootstrap ONLY — the
      // same frozen input every delta batch is stripped against
      val (_, chrome) = TextAnalysis.lineRelAndChrome(
        TextAnalysis.pageDocs(frozen), "tlcfreeze")
      def build(df: org.apache.spark.sql.DataFrame, id: Long) =
        TextAnalysis.lineContainPartials(df, chrome, id, "splc")
      val dirs = Seq("g" -> tmpDir("spromote-lcg"),
        "sizes" -> tmpDir("spromote-lcsz"))
      StreamingPromote.promoteBatch(build(frozen, -1L), dirs, -1L)
      val deltaRows = delta.as[(Long, String, String)].collect().sortBy(_._1)
      val chunks = deltaRows.grouped(
        math.max(1, (deltaRows.length + 2) / 3)).toSeq
      assert(chunks.length == 3 && chunks(0).length >= 4)
      val mem = MemoryStream[(Long, String, String)]
      val q = StreamingPromote.promote(
        mem.toDF().toDF("doc_id", "source", "text"), "doc_id", dirs)(build)
      try {
        mem.addData(chunks(0).toIndexedSeq)
        q.processAllAvailable()
        // micro-batch 1 REDELIVERS half of micro-batch 0's documents
        // under a fresh batch id — without the gate the append algebra
        // would double their line postings
        mem.addData((chunks(1) ++ chunks(0).take(chunks(0).length / 2))
          .toIndexedSeq)
        q.processAllAvailable()
        mem.addData(chunks(2).toIndexedSeq)
        q.processAllAvailable()
        val metrics = Option(q.lastProgress)
          .flatMap(_.stateOperators.headOption)
          .map(_.customMetrics.keySet())
          .getOrElse(java.util.Collections.emptySet[String]())
        assert(metrics.stream().anyMatch(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb metrics in $metrics")
      } finally q.stop()
      val streamed = containRows(StreamingPromote.probeLineContainLive(
        sp, chrome, dirs, probeDocs))
      val batch = containRows(
        SparkEntry.queries("q131_line_contain_merge")(sp, sf))
      assert(batch.nonEmpty, "q131 returned no probe rows — spec is vacuous")
      assert(streamed == batch,
        "streamed line-containment promote diverged from batch q131")
      // demote micro-batch 1; rebuilt-without is built under the SAME
      // frozen chrome (the lifecycle contract — not a re-frozen census)
      Partials.demote(dirs, 1L)
      val surviving = frozen
        .union(chunks(0).toSeq.toDF("doc_id", "source", "text"))
        .union(chunks(2).toSeq.toDF("doc_id", "source", "text"))
      val gp = TextAnalysis.lineGramIds(TextAnalysis.pageDocs(probeDocs), chrome)
      val want = containRows(Dedup.probeContain(
        Dedup.collapseContain(
          TextAnalysis.lineContainPartials(surviving, chrome, 0L, "tlcw")),
        gp, gp.groupBy(col("doc_id")).agg(count(lit(1)).as("ng")), "tlcwp"))
      assert(containRows(StreamingPromote.probeLineContainLive(
        sp, chrome, dirs, probeDocs)) == want,
        "demoted line-containment state diverged from rebuilt-without")
    } finally {
      saved.fold(sp.conf.unset(key))(v => sp.conf.set(key, v))
    }
  }
}
