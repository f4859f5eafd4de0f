package graft.streaming

import graft.queries.{Dedup, Partials, Scratch, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming index PROMOTE — the micro-batch twin of the batch
  * lifecycle entries (q100/q101, q115, q128, q131, q133), closing the
  * streaming lifecycle that [[StreamingProbe]] opened: the probe reads a
  * frozen index; this maintains one, landing each arriving delta
  * micro-batch in LIVE stored index state.
  *
  * Every family stores its state as [[Partials]], which makes the
  * streaming spelling one function and exactly-once:
  *
  *  - promote is a PURE APPEND (per-batch partial states; the collapse
  *    is deferred to probe time), so a micro-batch's work is its own
  *    build plus one partition write per relation — no read-modify-write
  *    of corpus-sized state, no per-batch reshuffle of the index;
  *  - each micro-batch writes its OWN `batch_id=<id>` partitions with
  *    overwrite. Structured Streaming replays a failed batch under the
  *    SAME batch id, so redelivery overwrites the identical partition
  *    instead of duplicating rows — the idempotent-sink idiom, doubling
  *    as the retraction layout: demoting a promoted micro-batch is a
  *    partition-directory delete;
  *  - the document gate (`dropDuplicates` on the key) holds every
  *    promoted id in keyed streaming state, so an at-least-once source
  *    redelivering a document in a LATER micro-batch (a fresh batch id —
  *    the case the partition overwrite cannot catch) never promotes it
  *    twice. The lexical MIN algebra would absorb the duplicate
  *    verdict-wise, but the census SUMS and the containment postings
  *    COUNT, so a duplicate there double-counts; and in every family a
  *    duplicate would live under two partitions, making demote-by-batch
  *    a PARTIAL retraction. With the gate, a document exists in exactly
  *    one partition and a demote is total. The gate's state is one key
  *    per corpus document, unbounded by design (a promoted id must never
  *    re-promote, so no watermark can expire it): the 100 TB
  *    configuration runs it on the RocksDB state provider, which
  *    RocksDbStateSpec proves behavior-neutral and engaged.
  *
  * Convergence contract (StreamingPromoteSpec, StreamingRefreezeSpec,
  * RocksDbStateSpec): after any in-order chunking of the delta, probing
  * the live state equals the batch entry's probe of the one-shot merged
  * index, and a demote equals an index built without the batch.
  */
object StreamingPromote {

  /** The gated streaming promote: every micro-batch of `stream`, gated
    * on `key`, lands as one promoted batch of `build`'s partials under
    * `dirs`. Caller starts/stops the query. */
  def promote(stream: DataFrame, key: String, dirs: Partials.Dirs)(
      build: (DataFrame, Long) => Partials): StreamingQuery =
    stream.dropDuplicates(key)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        promoteBatch(build(df, id), dirs, id)
      }
      .start()

  /** Land one batch's partials: overwrite its partitions, then release
    * its per-batch scan once the writes are in. Also the bootstrap entry
    * point: seed the frozen corpus under a (negative) batch id before
    * starting the stream. */
  def promoteBatch(p: Partials, dirs: Partials.Dirs, batchId: Long): Unit =
    try p.write(dirs, batchId) finally p.release()

  // ---- lexical (q100/q102's streaming side)

  def lexDirs(exactDir: String, bandsDir: String): Partials.Dirs =
    Seq("exact" -> exactDir, "bands" -> bandsDir)

  /** The gated lexical promote over a `(doc_id, text)` stream. */
  def promoteLexGated(deltaDocs: DataFrame, exactDir: String,
      bandsDir: String): StreamingQuery =
    promote(deltaDocs, "doc_id", lexDirs(exactDir, bandsDir))(Dedup.lexPartials)

  /** DEMOTE one promoted micro-batch: one partition-directory delete per
    * relation, no read of surviving state, no rebuild. */
  def demoteLexBatch(exactDir: String, bandsDir: String,
      batchId: Long): Unit =
    Partials.demote(lexDirs(exactDir, bandsDir), batchId)

  /** Probe the live lexical state: batch q100's probe contract over
    * whatever has been promoted so far. */
  def probeLexLive(spark: SparkSession, exactDir: String, bandsDir: String,
      probeDocs: DataFrame): DataFrame =
    Dedup.probeLex(Dedup.collapseLex(
      Partials.read(spark, lexDirs(exactDir, bandsDir), Dedup.LexShape)),
      probeDocs)

  /** Probe the live semantic lists (`Similarity.semPartials`, assigned
    * under the FROZEN quantizer `cent` — no retrain on promote, exactly
    * like batch q101). */
  def probeSemLive(spark: SparkSession, cent: DataFrame, dirs: Partials.Dirs,
      probeE: DataFrame): DataFrame =
    Similarity.probeSem(
      Similarity.collapseSem(cent,
        Partials.read(spark, dirs, Similarity.SemShape)), probeE)

  /** Probe the live containment state (`Dedup.containPartials`): batch
    * q128's probe contract (rarest-gram probes by the COLLAPSED df,
    * candidate-bounded confirm) over whatever has been promoted so far. */
  def probeContainLive(spark: SparkSession, dirs: Partials.Dirs,
      probeDocs: DataFrame): DataFrame = {
    val idx = Dedup.collapseContain(
      Partials.read(spark, dirs, Dedup.ContainShape))
    val gp = Dedup.gramIds(probeDocs)
    Dedup.probeContain(idx, gp,
      gp.groupBy(col("doc_id")).agg(count(lit(1)).as("ng")), "spromc")
  }

  /** Probe the live line-containment state
    * (`TextAnalysis.lineContainPartials`, every batch stripped against
    * the FROZEN publish-time `chrome`): batch q131's probe contract, the
    * probe side stripped against the SAME chrome. Chrome that emerges
    * only within the delta stream indexes un-stripped until a re-freeze
    * — the horizon the re-freeze store below removes. */
  def probeLineContainLive(spark: SparkSession, chrome: DataFrame,
      dirs: Partials.Dirs, probeDocs: DataFrame): DataFrame = {
    val idx = Dedup.collapseContain(
      Partials.read(spark, dirs, Dedup.ContainShape))
    val gp = TextAnalysis.lineGramIds(TextAnalysis.pageDocs(probeDocs), chrome)
    Dedup.probeContain(idx, gp,
      gp.groupBy(col("doc_id")).agg(count(lit(1)).as("ng")), "spromlc")
      .withColumnRenamed("n_grams", "n_lines")
  }

  // ---- the RE-FREEZE-capable line store (q133/q134's streaming side).
  // Four partitioned relations — surv + strip postings (BOTH sides of
  // the chrome split, with `source` on stored rows), census counts +
  // srcn partials — plus the published chrome pairs as a small
  // epoch-overwritten relation. Every promote strips against the
  // CURRENTLY PUBLISHED chrome and appends its own census partial;
  // `refreezeLineLive` is the maintenance operation a production
  // pipeline runs when the collapsed census has drifted: re-publish the
  // chrome and move ONLY the flipped lines' postings between the two
  // sides (`TextAnalysis.refreezeLineState` — broadcast flip sets,
  // scan-stage, no text re-parse). The store rewrite is
  // postings-linear, never corpus-linear; batch ids survive the move, so
  // demote stays a partition drop on all four relations.

  /** Directory bundle for the re-freeze-capable line store: the four
    * partitioned relations plus the published chrome. */
  final case class LineRefreezeDirs(survDir: String, stripDir: String,
      cntDir: String, srcnDir: String, chromeDir: String) {
    def parts: Partials.Dirs = Seq("surv" -> survDir, "strip" -> stripDir,
      "counts" -> cntDir, "srcn" -> srcnDir)
    /** The store's scratch key: per-batch scans of two stores never
      * share a path. */
    def tag: String = "sprf" + Integer.toHexString(survDir.hashCode)
  }

  /** The four relations' schemas; the strip store is legitimately
    * empty before the bootstrap freeze. */
  private val RefreezeShape = {
    val postings = "source STRING, doc_id BIGINT, gid BIGINT, batch_id BIGINT"
    Map("surv" -> postings, "strip" -> postings) ++ TextAnalysis.CensusShape
  }

  private def readRefreeze(spark: SparkSession, dirs: LineRefreezeDirs)
      : Partials = Partials.read(spark, dirs.parts, RefreezeShape)

  /** The re-freeze store's per-batch build: pages stripped against the
    * chrome published when the micro-batch runs (empty before the
    * bootstrap freeze → everything lands in surv, exactly the
    * pre-publish state the bootstrap re-freeze then splits). */
  def refreezePartials(dirs: LineRefreezeDirs)(batch: DataFrame,
      batchId: Long): Partials =
    TextAnalysis.lineRefreezePartials(batch,
      publishedChrome(batch.sparkSession, dirs), batchId, dirs.tag)

  /** The currently published chrome pairs `(source, lmd5)` — EMPTY
    * before the first freeze, which makes the bootstrap publish a plain
    * [[refreezeLineLive]] (re-freeze FROM the empty census: every
    * verdict is a fresh ADD, so the move quarantines exactly the
    * bootstrap chrome — the batch entries' publish-time split). */
  def publishedChrome(spark: SparkSession, dirs: LineRefreezeDirs)
      : DataFrame =
    if (new java.io.File(dirs.chromeDir).exists())
      spark.read.parquet(dirs.chromeDir)
    else {
      import spark.implicits._
      Seq.empty[(String, String)].toDF("source", "lmd5")
    }

  /** Stage `df` beside `dir` (partitioned by `partCol` when given) —
    * the write half of a write-aside swap: Spark refuses to overwrite a
    * path it is also reading, and the re-freeze's strip side READS the
    * surv store, so every staged write must land before ANY swap. */
  private def stageNext(df: DataFrame, dir: String,
      partCol: Option[String]): Unit = {
    val next = dir + ".next"
    Scratch.deleteTree(next)
    val w = df.write.mode("overwrite")
    partCol.fold(w)(w.partitionBy(_)).parquet(next)
  }

  private def commitNext(dir: String): Unit = {
    Scratch.deleteTree(dir)
    java.nio.file.Files.move(java.nio.file.Paths.get(dir + ".next"),
      java.nio.file.Paths.get(dir))
  }

  /** The maintenance RE-FREEZE: collapse the census partials to C_new,
    * move the flipped lines' postings between the stored sides, swap
    * the stores, re-publish the chrome. Run between micro-batches (the
    * promote stream must be stopped or idle — the store swap is not
    * concurrent with a partition write). Also the BOOTSTRAP publish:
    * with no chrome yet published, old = ∅ and the move quarantines
    * the bootstrap census's chrome. */
  def refreezeLineLive(spark: SparkSession, dirs: LineRefreezeDirs)
      : Unit = {
    val ta = TextAnalysis
    // chrome relations are tiny by construction (per-source frequent
    // lines) — pin them DRIVER-SIDE so the flip sets stay stable
    // across the staged writes and the chrome swap (and the bootstrap's
    // EMPTY old chrome never round-trips through a scratch write)
    def pinned(df: DataFrame): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
    val live = readRefreeze(spark, dirs)
    val oldC = pinned(publishedChrome(spark, dirs))
    val newC = pinned(ta.collapsedCensus(live)
      .select(col("source"), col("lmd5")))
    val refrozen = ta.refreezeLineState(live, oldC, newC)
    // BOTH sides read BOTH old stores (the cross moves) — stage both
    // .next dirs fully before the first swap, or the strip rewrite
    // would read the already-swapped surv and lose the quarantine. The
    // three staged writes only READ old state — independent jobs,
    // overlapped (guide §2.6)
    graft.Overlap.all(Seq(
      () => stageNext(refrozen("surv"), dirs.survDir, Some("batch_id")),
      () => stageNext(refrozen("strip"), dirs.stripDir, Some("batch_id")),
      () => stageNext(newC, dirs.chromeDir, None)))
    commitNext(dirs.survDir)
    commitNext(dirs.stripDir)
    commitNext(dirs.chromeDir)
  }

  /** Probe the live store under the currently published chrome —
    * sizes DERIVE from the surviving postings (the q133 collapse: a
    * re-freeze changes per-doc counts, so none are stored). */
  def probeLineRefreezeLive(spark: SparkSession, dirs: LineRefreezeDirs,
      probeDocs: DataFrame): DataFrame = {
    val ta = TextAnalysis
    val idx = ta.collapseLineState(readRefreeze(spark, dirs))
    val chrome = broadcast(publishedChrome(spark, dirs))
    val gp = ta.lineGramIds(ta.pageDocs(probeDocs), chrome)
    Dedup.probeContain(idx, gp,
      gp.groupBy(col("doc_id")).agg(count(lit(1)).as("ng")), "sprfp")
      .withColumnRenamed("n_grams", "n_lines")
  }
}
