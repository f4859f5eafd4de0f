package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.{Dedup, Partials, Similarity}

/** Frozen-index MERGE lifecycle (q100/q101's [[Partials]] spelling):
  * promoting a delta batch into a stored dedup index must be
  * indistinguishable from
  * rebuilding the index from scratch over corpus∪delta — for both the
  * lexical (norm-hash + MinHash-band) and semantic (inverted-list)
  * signals — and must consume only STORED index state plus delta text
  * (parquet roundtrip), never frozen text. The cross-engine hash gate
  * (q100/q101 vs the DuckDB rebuild oracle) proves the same equivalence
  * on the real corpus; this spec pins it on constructed ground truth
  * where the expected verdicts are known by hand, including the
  * before/after behavior change a merge must cause (a probe that was
  * `is_new` against the frozen index finds its delta twin after).
  */
class FrozenIndexSpec extends SparkSpec {
  import spark.implicits._

  // ---- lexical ----

  private val loremA =
    "the quick brown fox jumps over the lazy dog again and again today"
  private val loremB =
    "completely different content about spark catalyst plans and shuffles"
  private val loremC =
    "novel text that matches nothing else in any batch of this corpus"

  // frozen: 10 owns loremA, 11 owns loremB
  private def frozenDocs =
    Seq((10L, loremA), (11L, loremB)).toDF("doc_id", "text")
  // delta: 20 is an exact dup of loremA (so the index min must stay 10
  // after merge), 21 brings NEW content
  private val deltaText = "fresh delta material visible only after merge ok"
  private def deltaDocs =
    Seq((20L, loremA), (21L, deltaText)).toDF("doc_id", "text")
  // probe: 30 dups frozen content, 31 dups DELTA-only content, 32 novel
  private def probeDocs =
    Seq((30L, loremB), (31L, deltaText), (32L, loremC))
      .toDF("doc_id", "text")

  private def lexRows(df: DataFrame): Seq[(Long, Long, Long, Boolean)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq

  private def roundtrip(df: DataFrame, name: String): DataFrame = {
    val dir = tmpDir(s"fidx-$name")
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Promote each delta in order (batch ids 1, 2, …) onto `idx`. */
  private def lexMerge(idx: Partials, deltas: DataFrame*): Partials =
    deltas.zipWithIndex.foldLeft(idx) { case (p, (d, i)) =>
      p.union(Dedup.lexPartials(d, i + 1L)) }

  private def lexFrozen: Partials = Dedup.lexPartials(frozenDocs, 0L)

  private def lexProbeP(idx: Partials, probe: DataFrame) =
    lexRows(Dedup.probeLex(Dedup.collapseLex(idx), probe))

  test("lexical: probe against frozen index — delta content is is_new") {
    val idx = Dedup.buildLexIndex(frozenDocs)
    val got = lexRows(Dedup.probeLex(idx, probeDocs))
    assert(got == Seq(
      (30L, 11L, 11L, false), // frozen dup found
      (31L, -1L, -1L, true), // delta twin NOT yet in the index
      (32L, -1L, -1L, true)))
  }

  test("lexical: merged index ≡ index rebuilt from scratch over corpus∪delta") {
    val merged = lexMerge(lexFrozen, deltaDocs)
    val rebuilt = Dedup.buildLexIndex(frozenDocs.union(deltaDocs))
    val got = lexProbeP(merged, probeDocs)
    assert(got == lexRows(Dedup.probeLex(rebuilt, probeDocs)))
    // and the merge changed exactly the delta-twin verdict
    assert(got == Seq(
      (30L, 11L, 11L, false),
      (31L, 21L, 21L, false), // delta twin now found
      (32L, -1L, -1L, true)))
  }

  test("lexical: merge consumes STORED index state (parquet roundtrip), not frozen text") {
    val f0 = lexFrozen
    val stored = Partials(Seq(
      "exact" -> roundtrip(f0("exact"), "lex-exact"),
      "bands" -> roundtrip(f0("bands"), "lex-bands")))
    // before merge: the stored copy answers identically to the live plan
    assert(lexProbeP(stored, probeDocs) == lexProbeP(f0, probeDocs))
    // after merge: stored+delta ≡ rebuilt over corpus∪delta
    assert(lexProbeP(lexMerge(stored, deltaDocs), probeDocs)
      == lexRows(Dedup.probeLex(
        Dedup.buildLexIndex(frozenDocs.union(deltaDocs)), probeDocs)))
  }

  test("lexical: two sequential daily merges ≡ one merge of the union ≡ rebuild") {
    val day1 = Seq((20L, loremA)).toDF("doc_id", "text")
    val day2 = Seq((21L, deltaText)).toDF("doc_id", "text")
    val seq2 = lexMerge(lexFrozen, day1, day2)
    val one = lexMerge(lexFrozen, day1.union(day2))
    val rebuilt = Dedup.buildLexIndex(frozenDocs.union(day1).union(day2))
    val a = lexProbeP(seq2, probeDocs)
    assert(a == lexProbeP(one, probeDocs))
    assert(a == lexRows(Dedup.probeLex(rebuilt, probeDocs)))
  }

  test("lexical: re-merging the SAME delta is probe-idempotent (at-least-once promote)") {
    // a retried promote job must not change verdicts: the exact table
    // collapses by min (idempotent by algebra) and the band table's
    // duplicate rows cannot move a min(idx_doc) — the probe contract
    // absorbs at-least-once delivery without a dedup pass
    val once = lexMerge(lexFrozen, deltaDocs)
    val twice = once.union(Dedup.lexPartials(deltaDocs, 1L))
    assert(lexProbeP(twice, probeDocs) == lexProbeP(once, probeDocs))
  }

  test("lexical: exact-min survives a merge that brings a HIGHER-id duplicate") {
    // frozen owns loremA at id 10; delta re-adds it at 20 — the merged
    // min-state must keep 10 as the canonical owner
    val merged = lexMerge(lexFrozen, deltaDocs)
    val got = lexProbeP(merged, Seq((40L, loremA)).toDF("doc_id", "text"))
    assert(got == Seq((40L, 10L, 10L, false)))
  }

  // ---- semantic ----

  private def dotc(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    graft.functions.VectorFunctions.floatDot(x, y)

  private def embDF(rows: (Long, Array[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        sqrt(dotc(col("embedding"), col("embedding"))).as("nrm"))

  private def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  private def cents: DataFrame =
    Seq((0L, v(1, 0, 0, 0)), (1L, v(0, 1, 0, 0)))
      .toDF("cid", "cent_emb")
      .select(col("cid"), col("cent_emb"),
        sqrt(dotc(col("cent_emb"), col("cent_emb"))).as("cent_nrm"))

  // frozen vectors near each centroid
  private def frozenE = embDF(
    200L -> v(0.9, 0.1, 0, 0), 201L -> v(0.1, 0.95, 0, 0))
  // delta: a LOWER-id near-twin of the c0 cluster
  private def deltaE = embDF(150L -> v(0.88, 0.12, 0, 0))
  // probes: 1 dups the c0 cluster; 2 is orthogonal to everything
  private def probeE = embDF(
    1L -> v(0.89, 0.11, 0, 0), 2L -> v(0, 0, 1, 0))

  private def semRows(df: DataFrame): Seq[(Long, Long, Long, Double, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getBoolean(4))).toSeq

  test("semantic: before merge the delta twin is invisible; after, dup_of moves to it") {
    val f0 = Similarity.buildSemIndex(frozenE, cents)
    val before = semRows(Similarity.probeSem(f0, probeE))
    assert(before.map(t => (t._1, t._3)) == Seq((1L, 200L), (2L, -1L)),
      before.toString)
    val merged = semMerge(semFrozen, deltaE)
    val after = semProbeP(merged, probeE)
    // dup_of = LOWEST index id ≥ SemTau: the merged-in 150 wins
    assert(after.map(t => (t._1, t._3)) == Seq((1L, 150L), (2L, -1L)),
      after.toString)
  }

  test("semantic: re-merging the SAME delta is probe-idempotent (at-least-once promote)") {
    // duplicate inverted-list entries cannot move min-id dup verdicts
    // or max_cos — a retried semantic promote is absorbed the same way
    val once = semMerge(semFrozen, deltaE)
    val twice = once.union(Similarity.semPartials(deltaE, cents, 1L))
    assert(semProbeP(twice, probeE) == semProbeP(once, probeE))
  }

  test("semantic: merged index ≡ rebuilt from scratch over corpus∪delta (incl. stored roundtrip)") {
    val cent = roundtrip(cents, "sem-cent")
    val stored = Partials(Seq(
      "lists" -> roundtrip(semFrozen("lists"), "sem-lists")))
    val merged = stored.union(Similarity.semPartials(deltaE, cent, 1L))
    val rebuilt = Similarity.buildSemIndex(frozenE.union(deltaE), cents)
    assert(semRows(Similarity.probeSem(
        Similarity.collapseSem(cent, merged), probeE))
      == semRows(Similarity.probeSem(rebuilt, probeE)))
  }

  // ---- retraction (q102/q103's API): promote must run BACKWARDS ----

  // batch 2 for the lexical round-trips: brings loremC (novel content)
  // AND a LOWER-id copy of loremA — the case a collapsed min cannot
  // undo (retraction must RAISE the canonical owner back to 10)
  private def batch2Docs =
    Seq((5L, loremA), (22L, loremC)).toDF("doc_id", "text")

  test("lexical: retract ≡ rebuild-without — including a shadowed min that must resurface") {
    val p2 = lexMerge(lexFrozen, deltaDocs, batch2Docs)
    // while batch 2 is in: 5 owns loremA, loremC is a known dup
    assert(lexProbeP(p2, probeDocs) == Seq(
      (30L, 11L, 11L, false),
      (31L, 21L, 21L, false),
      (32L, 22L, 22L, false)))
    val demoted = p2.retract(2L)
    // after: ownership of loremA falls BACK to frozen 10 (the partial
    // min the collapsed representation would have lost), loremC is
    // novel again — and the whole verdict set equals an index REBUILT
    // without the batch
    val got = lexProbeP(demoted,
      probeDocs.union(Seq((40L, loremA)).toDF("doc_id", "text")))
    assert(got == lexRows(Dedup.probeLex(
      Dedup.buildLexIndex(frozenDocs.union(deltaDocs)),
      probeDocs.union(Seq((40L, loremA)).toDF("doc_id", "text")))))
    assert(got == Seq(
      (30L, 11L, 11L, false),
      (31L, 21L, 21L, false),
      (32L, -1L, -1L, true),
      (40L, 10L, 10L, false)))
  }

  test("lexical: demote → re-promote round-trips to the merged verdicts") {
    val p2 = lexMerge(lexFrozen, deltaDocs, batch2Docs)
    val back = p2.retract(2L).union(Dedup.lexPartials(batch2Docs, 3L))
    assert(lexProbeP(back, probeDocs) == lexProbeP(p2, probeDocs))
  }

  test("lexical: retracting a never-promoted batch id is a no-op") {
    val p1 = lexMerge(lexFrozen, deltaDocs)
    assert(lexProbeP(p1.retract(99L), probeDocs)
      == lexProbeP(p1, probeDocs))
  }

  test("lexical: retraction over a batch_id-PARTITIONED store prunes the batch's files") {
    // the q102 storage layout: with scratch routed to parquet, the
    // stored state partitions by batch_id and the retraction filter
    // must reach the scan as a PARTITION filter — the retracted
    // batch's files are never opened (the 100 TB retract-cost claim,
    // machine-checked), and verdicts still equal rebuild-without
    val p2 = lexMerge(lexFrozen, deltaDocs, batch2Docs)
    val key = "graft.scratch.dir"
    spark.conf.set(key, tmpDir("fidx-part"))
    val stored = try p2.store("t102") finally spark.conf.unset(key)
    val demoted = stored.retract(2L)
    assert(partitionsRead(stored("exact")) == 3)
    assert(partitionsRead(demoted("exact")) == 2,
      "the retraction scan opened the retracted batch's partition")
    assert(lexProbeP(demoted, probeDocs) == lexRows(Dedup.probeLex(
      Dedup.buildLexIndex(frozenDocs.union(deltaDocs)), probeDocs)))
  }

  // semantic batch 2: a lower-id c0 twin that shadows 150 while
  // promoted, plus probes must fall back to 150 after retraction
  private def batch2E = embDF(140L -> v(0.87, 0.13, 0, 0))

  private def semFrozen: Partials = Similarity.semPartials(frozenE, cents, 0L)

  /** Promote each delta in order (batch ids 1, 2, …) onto `idx`. */
  private def semMerge(idx: Partials, deltas: DataFrame*): Partials =
    deltas.zipWithIndex.foldLeft(idx) { case (p, (d, i)) =>
      p.union(Similarity.semPartials(d, cents, i + 1L)) }

  private def semProbeP(idx: Partials, probe: DataFrame) =
    semRows(Similarity.probeSem(Similarity.collapseSem(cents, idx), probe))

  test("semantic: retract ≡ rebuild-without — dup_of falls back to the surviving twin") {
    val p2 = semMerge(semFrozen, deltaE, batch2E)
    assert(semProbeP(p2, probeE).map(t => (t._1, t._3))
      == Seq((1L, 140L), (2L, -1L)))
    val demoted = p2.retract(2L)
    val rebuilt = Similarity.buildSemIndex(frozenE.union(deltaE), cents)
    val got = semProbeP(demoted, probeE)
    assert(got == semRows(Similarity.probeSem(rebuilt, probeE)))
    assert(got.map(t => (t._1, t._3)) == Seq((1L, 150L), (2L, -1L)))
  }

  test("semantic: demote → re-promote round-trips to the merged verdicts") {
    val p2 = semMerge(semFrozen, deltaE, batch2E)
    val back = p2.retract(2L).union(Similarity.semPartials(batch2E, cents, 3L))
    assert(semProbeP(back, probeE) == semProbeP(p2, probeE))
  }
}
