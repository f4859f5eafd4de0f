package graft.streaming

import graft.queries.{Dedup, Scratch, TextAnalysis}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Streaming LINE-grain containment — batch q130's frozen-index twin,
  * in the [[StreamingContain]] discipline: the published corpus's
  * chrome census AND surviving-line index freeze once at publish time;
  * each arriving micro-batch of pages reduces to its own surviving
  * line set (the SAME page model, chrome anti-join, and digest
  * spelling — `TextAnalysis.lineGramIds`, surfaces cannot fork) and
  * runs the ONE containment probe kernel (`Dedup.probeContain`):
  * rarest-line probes by FROZEN df, candidate-bounded exact confirm,
  * quoted-paragraph verdicts the moment a page lands.
  *
  * Stateless by construction, like the word-grain twin: no state
  * store, no watermark; redelivery re-emits identical verdicts. The
  * freeze has one MORE frozen input than the word grain: the chrome
  * set. A delta page is stripped against the PUBLISH-time census —
  * chrome that emerges only within the delta stream is not stripped
  * until the next re-freeze, the same horizon StreamingBoiler
  * documents for the census itself.
  */
object StreamingLineContain {

  /** Publish-time state: the chrome pairs and the surviving-line index
    * (postings + per-doc sizes + per-line dfs). */
  final case class FrozenLineIndex(chrome: DataFrame,
      idx: Dedup.ContainIndex)

  /** Freeze over a `(doc_id, source, text)` corpus — the identical
    * census + strip + digest chain batch q130 builds, materialized as
    * the stored publish-time state. */
  def freeze(corpus: DataFrame): FrozenLineIndex = {
    val pd = TextAnalysis.pageDocs(corpus)
    // one materialized page-line scan feeds the census AND the index —
    // the shape batch q130 uses
    val (li, chrome) = TextAnalysis.lineRelAndChrome(pd, "slinec")
    val g = Scratch.materialize(
      TextAnalysis.lineGramIdsOfRel(li, chrome), "slinec_lines")
      .toDF("doc_id", "gid")
    FrozenLineIndex(chrome, Dedup.ContainIndex.of(g))
  }

  /** One micro-batch's verdicts — batch q130's probe kernel verbatim,
    * with the micro-batch as the delta side. Exposed for the
    * convergence spec and for `foreachBatch` callers. */
  def probeBatch(batch: DataFrame, f: FrozenLineIndex): DataFrame =
    probeBatchManaged(batch, f)._1

  /** [[probeBatch]] with the candidate cut's release handle — the
    * streaming path's form (the StreamingContain discipline): release
    * after the batch's verdict write lands so per-batch scratch stays
    * bounded on an unbounded stream. */
  def probeBatchManaged(batch: DataFrame,
      f: FrozenLineIndex): (DataFrame, () => Unit) = {
    val (report, release) = Dedup.probeContainManaged(f.idx,
      TextAnalysis.lineGramIds(TextAnalysis.pageDocs(batch), f.chrome),
      "slinecont")
    (report.withColumnRenamed("n_grams", "n_lines"), release)
  }

  /** The streaming wiring: every micro-batch of `(doc_id, source,
    * text)` pages probes the frozen line index and appends its
    * verdicts as parquet under `outDir` (pure rows; a replayed batch
    * appends duplicates a reader dedups on (doc_id, container_id) —
    * the StreamingContain downstream-verdict discipline). */
  def start(deltaDocs: DataFrame, f: FrozenLineIndex,
      outDir: String): StreamingQuery =
    deltaDocs.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val (verdicts, release) = probeBatchManaged(df, f)
        try verdicts.write.mode("append").parquet(outDir)
        finally release()
      }
      .start()

  /** Convenience for specs and embedding sessions: freeze over the
    * q130 corpus (docs ∪ constructed quotes) of a testdata dir. */
  def freezeQ130(spark: SparkSession, dir: String): FrozenLineIndex =
    freeze(TextAnalysis.withQuotes(graft.Tables.documents(spark, dir)))
}
