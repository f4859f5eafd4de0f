package graft.queries

import graft.{Ledger, Overlap, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, over `documents`.
  *
  * Everything here is pure column expressions (whole-stage codegen, no UDFs),
  * embarrassingly parallel per document — the shape that scales to 100 TB:
  * a single narrow map stage with no shuffle except the final demo ORDER BY
  * (which real pipelines drop) or a top-k aggregation.
  *
  * Reference anchor: the reference's only text work is hex casing
  * (`LovelaceBalanceByAddressReducer.cs:50-51`); these operators are the
  * north-star additions mandated by BASELINE.json / SURVEY.md §7.1.7.
  */
object TextAnalysis extends QueryModule {

  /** Matches of `rx` in `c` — shared shape between Spark and the oracle. */
  private def rxCount(c: Column, rx: String): Column =
    size(regexp_extract_all(c, lit(rx), lit(0)))

  private def rxCountSql(expr: String, rx: String): String =
    s"len(regexp_extract_all($expr, '$rx'))"

  // ---- the q21 quality heuristic: ONE spelling of the regexes,
  // thresholds, predicate, and its SQL twin — consumed by q21/q86 here,
  // clsLabels (the classifier's training labels), Selection.qualityFail
  // (q79's audit + streaming curate), and Dedup.dekOf (q67/q98's
  // composed front half). A tuned threshold must move ALL of them
  // together; hand-copies previously risked a silent fork between the
  // composed pipelines and the verdict they cite.
  //
  // KNOWN cross-engine edge (the normMd5/wordsCol
  // discipline): \s and \w differ between Spark (Java regex — \s
  // includes U+000B vertical tab) and DuckDB's RE2 (\s is exactly
  // [\t\n\f\r ]). Every shared class here and every \S+ tokenizer in
  // this file inherits the edge: a corpus row containing U+000B would
  // tokenize differently across the gate. The synthetic corpus emits
  // none; a deployment ingesting arbitrary bytes should normalize
  // control characters upstream (the DocIngest front door is the
  // place) before trusting cross-engine hash parity.
  private[graft] val QualityPunctRe = "[^\\w\\s]"
  private[graft] val QualityWordRe = "[A-Za-z]+"
  private[graft] val QualityStopRe = "\\b(the|a|an|of|and|to|in|is|it|that)\\b"

  /** The q21 verdict as one predicate over a text column. */
  private[graft] def qualityOkOn(text: Column): Column =
    length(text) >= 100 &&
      (rxCount(text, QualityPunctRe).cast("double") /
        greatest(length(text), lit(1))) < 0.1 &&
      (rxCount(text, QualityStopRe).cast("double") /
        greatest(rxCount(text, QualityWordRe), lit(1))) > 0.01

  /** The identical predicate as DuckDB SQL over a text expression. */
  private[graft] def qualityOkSql(t: String): String =
    s"""LENGTH($t) >= 100
       |    AND CAST(${rxCountSql(t, QualityPunctRe)} AS DOUBLE)
       |      / GREATEST(LENGTH($t), 1) < 0.1
       |    AND CAST(${rxCountSql(t, QualityStopRe)} AS DOUBLE)
       |      / GREATEST(${rxCountSql(t, QualityWordRe)}, 1) > 0.01""".stripMargin

  /** Whitespace tokens + BPE-ish regex tokens + char count per doc. */
  private def q20(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        rxCount(col("text"), "\\S+").as("n_ws_tokens"),
        rxCount(col("text"), Dedup.PackTokRe).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  private val q20Sql =
    s"""SELECT doc_id, LENGTH(text) AS n_chars_m,
       |  ${rxCountSql("text", "\\S+")} AS n_ws_tokens,
       |  ${rxCountSql("text", Dedup.PackTokRe)} AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean word
    * length — integer counts combined in one fixed-shape double expression
    * (identical IEEE evaluation order in both engines).
    */
  /** The q21 heuristic's raw counts over a `text` column — ONE
    * spelling shared with [[clsLabels]], whose training labels are
    * documented as "the q21 heuristic's verdicts distilled": a tuned
    * threshold or regex here must move the classifier's labels with it,
    * not silently leave them on the stale definition.
    */
  private def qualityCounts(doc: DataFrame): DataFrame =
    doc.select(
      col("doc_id"), length(col("text")).as("len"),
      rxCount(col("text"), QualityWordRe).as("n_words"),
      rxCount(col("text"), QualityPunctRe).as("n_punct"),
      rxCount(col("text"), QualityStopRe).as("n_stop"))

  /** The verdict over [[qualityCounts]] output columns. */
  private def qualityOk: org.apache.spark.sql.Column =
    col("len") >= 100 &&
      col("n_punct").cast("double") / greatest(col("len"), lit(1)) < 0.1 &&
      col("n_stop").cast("double") / greatest(col("n_words"), lit(1)) > 0.01

  private def q21(s: SparkSession, d: String): DataFrame =
    qualityCounts(Tables.documents(s, d))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / greatest(col("len"), lit(1)))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / greatest(col("n_words"), lit(1)))
      .withColumn("quality_ok", qualityOk)
      .orderBy(col("doc_id"))

  private val q21Sql =
    s"""SELECT doc_id, LENGTH(text) AS len,
       |  ${rxCountSql("text", QualityWordRe)} AS n_words,
       |  ${rxCountSql("text", QualityPunctRe)} AS n_punct,
       |  ${rxCountSql("text", QualityStopRe)} AS n_stop,
       |  CAST(${rxCountSql("text", QualityPunctRe)} AS DOUBLE)
       |    / GREATEST(LENGTH(text), 1) AS punct_ratio,
       |  CAST(${rxCountSql("text", QualityStopRe)} AS DOUBLE)
       |    / GREATEST(${rxCountSql("text", QualityWordRe)}, 1) AS stop_ratio,
       |  ${qualityOkSql("text")} AS quality_ok
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Language-ID by stopword-profile hit counts, argmax with a fixed
    * priority chain (en > de > fr > es > zh on ties) so both engines pick
    * identically. An n-gram-profile classifier at 100 TB is this same shape:
    * K regexp/ngram counters + one CASE, fully codegen'd, no shuffle.
    */
  private val langProfiles: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|is|was|that|with)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|zu)\\b",
    "fr" -> "\\b(le|la|les|et|est|une|dans|que)\\b",
    "es" -> "\\b(el|los|las|y|es|una|para|como)\\b",
    "zh" -> "(的|是|在|了|我|有|和|不)")

  private def q22(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val scored = langProfiles.foldLeft(doc) { case (df, (l, rx)) =>
      df.withColumn(s"s_$l", rxCount(col("text"), rx))
    }
    val langs = langProfiles.map(_._1)
    val pred = langs.zipWithIndex.foldRight(lit("und")) {
      case ((l, i), els) =>
        val isMax = langs.drop(i + 1)
          .map(o => col(s"s_$l") >= col(s"s_$o"))
          .foldLeft(col(s"s_$l") > 0)(_ && _)
        when(isMax, lit(l)).otherwise(els)
    }
    scored
      .withColumn("lang_pred", pred)
      .select(col("doc_id"), col("lang").as("lang_true"), col("lang_pred"))
      .orderBy(col("doc_id"))
  }

  private val q22Sql = {
    val scores = langProfiles
      .map { case (l, rx) => s"${rxCountSql("text", rx)} AS s_$l" }
      .mkString(",\n  ")
    val langs = langProfiles.map(_._1)
    val cases = langs.zipWithIndex.map { case (l, i) =>
      val conds = (s"s_$l > 0" +: langs.drop(i + 1).map(o => s"s_$l >= s_$o"))
        .mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n    ")
    s"""SELECT doc_id, lang AS lang_true,
       |  CASE $cases ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id, lang, $scores FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Winnowing stride: hash one 8-char window per 16 character positions
    * instead of every offset. Standard winnowing samples windows — hashing
    * every offset (the round-1 formulation) is linear but with a md5-per-
    * character constant (48 s at sf0.1 for 5k docs); the stride divides
    * the digest count by 16 while keeping the fingerprint content-defined
    * and deterministic in both engines.
    */
  private val FpStride = 16

  /** Document fingerprinting: whole-doc md5 plus a strided-shingle
    * fingerprint — min of md5 over 8-char windows sampled every FpStride
    * positions (winnowing; also the 1-hash MinHash primitive reused in
    * Dedup). Exploded positions + a codegen'd min aggregate (md5 inside a
    * transform lambda is interpreted per element — see Dedup q32).
    */
  private def q23(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .transform(df => df.repartition(Scratch.par(df)))
      .select(col("doc_id"), md5(col("text")).as("doc_md5"), col("text"),
        explode(sequence(lit(1),
          greatest(length(col("text")) - 7, lit(1)),
          lit(FpStride))).as("i"))
      .select(col("doc_id"), col("doc_md5"),
        md5(col("text").substr(col("i"), lit(8))).as("h"))
      .groupBy(col("doc_id"), col("doc_md5"))
      .agg(min(col("h")).as("shingle_fp"))
      .orderBy(col("doc_id"))

  private val q23Sql =
    s"""SELECT doc_id, md5(text) AS doc_md5,
       |  list_min(list_transform(
       |    range(1, GREATEST(LENGTH(text) - 7, 1) + 1, $FpStride),
       |    i -> md5(substring(text, i, 8)))) AS shingle_fp
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Top-k character trigrams corpus-wide: explode → count → top-k.
    * At 100 TB: partial aggregation makes the shuffle carry only per-
    * partition (trigram, count) pairs; top-k is TakeOrderedAndProject.
    * Trigrams are emitted by a plain-JVM flatMap, not a
    * `transform(sequence, substr)` lambda: higher-order functions are
    * interpreted (CodegenFallback), and the lambda spelling measured
    * 2.1 s at sf0.1 vs 0.6 s for this one — same rows, same oracle.
    */
  private def q24(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("text")).as[String]
      .mapPartitions(_.flatMap { text =>
        // mirrors the oracle: sequence(1, greatest(len-2, 1)) — a text
        // shorter than 3 chars still emits its (truncated) prefix
        val len = text.length
        val n = math.max(len - 2, 1)
        (1 to n).iterator
          .map(i => text.substring(i - 1, math.min(i + 2, len)))
      })
      .toDF("trigram")
      .groupBy(col("trigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram"))
      .limit(20)
  }

  private val q24Sql =
    """SELECT trigram, COUNT(*) AS n FROM (
      |  SELECT UNNEST(list_transform(
      |    range(1, GREATEST(LENGTH(text) - 2, 1) + 1),
      |    i -> substring(text, i, 3))) AS trigram
      |  FROM documents)
      |GROUP BY trigram ORDER BY n DESC, trigram LIMIT 20""".stripMargin

  /** §2.9 scalar-function row: hex encode/decode with explicit casing
    * (case is load-bearing in the reference — uppercase mismatch means
    * spend matching never hits, `LovelaceBalanceByAddressReducer
    * .cs:50-51`), composite concat_ws keys, roundtrip unhex, arithmetic.
    */
  private def q25(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat_ws(":", col("source"), col("doc_id")).as("ckey"),
        lower(hex(concat_ws(":", col("source"), col("doc_id")))).as("hex_lower"),
        upper(hex(concat_ws(":", col("source"), col("doc_id")))).as("hex_upper"),
        unhex(lower(hex(concat_ws(":", col("source"), col("doc_id")))))
          .cast("string").as("roundtrip"),
        (col("n_chars") * 2 - 1).as("arith"))
      .orderBy(col("doc_id"))

  private val q25Sql =
    """SELECT doc_id,
      |  concat_ws(':', source, doc_id) AS ckey,
      |  lower(hex(concat_ws(':', source, doc_id))) AS hex_lower,
      |  upper(hex(concat_ws(':', source, doc_id))) AS hex_upper,
      |  decode(unhex(lower(hex(concat_ws(':', source, doc_id))))) AS roundtrip,
      |  n_chars * 2 - 1 AS arith
      |FROM documents ORDER BY doc_id""".stripMargin

  /** PII-ish redaction / text cleaning — the standard pre-training
    * scrub: emails → <EMAIL>, URLs → <URL>, digit runs → <NUM>, applied
    * in a fixed order (emails before digit runs — addresses contain
    * digits). Pure codegen'd regexp_replace chain, no shuffle; emitted
    * as counts + md5 of the cleaned text (not the text itself) so the
    * artifact stays small. DuckDB needs the 'g' flag for replace-all
    * parity with Spark.
    */
  private val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRx = "https?://[^\\s]+"
  private val NumRx = "[0-9]+"

  private def q26(s: SparkSession, d: String): DataFrame = {
    val cleaned = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRx, "<EMAIL>"),
        UrlRx, "<URL>"),
      NumRx, "<NUM>")
    Tables.documents(s, d)
      .select(col("doc_id"),
        rxCount(col("text"), EmailRx).as("n_emails"),
        rxCount(col("text"), UrlRx).as("n_urls"),
        rxCount(col("text"), NumRx).as("n_num_runs"),
        md5(cleaned).as("clean_md5"),
        length(cleaned).as("clean_len"))
      .orderBy(col("doc_id"))
  }

  private val q26Sql = {
    val cleaned =
      s"""regexp_replace(regexp_replace(regexp_replace(text,
         | '$EmailRx', '<EMAIL>', 'g'),
         | '$UrlRx', '<URL>', 'g'),
         | '$NumRx', '<NUM>', 'g')""".stripMargin.replace("\n", "")
    s"""SELECT doc_id,
       |  ${rxCountSql("text", EmailRx)} AS n_emails,
       |  ${rxCountSql("text", UrlRx)} AS n_urls,
       |  ${rxCountSql("text", NumRx)} AS n_num_runs,
       |  md5($cleaned) AS clean_md5,
       |  LENGTH($cleaned) AS clean_len
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** TF-IDF-style salient terms: top-3 terms per document scored by
    * tf × (N − df) — the integer-arithmetic idf variant (monotone in tf,
    * anti-monotone in df) so both engines agree EXACTLY with no
    * transcendental-function parity risk. The plan is the 100 TB TF-IDF
    * shape: one explode, a (doc, term) partial-agg, a small df table
    * joined back, TakeOrdered per doc.
    */
  private def q27(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    // corpus size N flows through the plan as a broadcast 1-row aggregate
    // (no driver-side count() action / extra job per invocation)
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val terms = docs
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("w"))
    val tf = terms.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w"))
      .agg(count(lit(1)).as("df")) // tf rows are distinct (doc, w)
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("w"))
    tf.join(df, "w")
      .crossJoin(nDocs)
      .select(col("doc_id"), col("w"),
        (col("tf") * (col("n_docs") - col("df"))).as("score"))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("w"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val q27Sql =
    """WITH terms AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, w, CAST(tf * (n.n - df.df) AS BIGINT) AS score
      |  FROM tf JOIN df USING (w) CROSS JOIN n)
      |SELECT doc_id, rank, w, score FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, w) AS rank
      |  FROM scored)
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** CUBE over the corpus dimensions (q13 covers ROLLUP; this completes
    * §2.13d's grouping-sets surface): all 2^2 grouping combinations of
    * (lang, source) with exact counts/sums — at 100 TB a single shuffle
    * with partial aggregation per grouping set, all Catalyst-native.
    */
  private def q28(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(
        coalesce(col("lang"), lit("ALL")).as("lang_g"),
        coalesce(col("source"), lit("ALL")).as("source_g"),
        col("n_docs"), col("sum_chars"))
      .orderBy(col("lang_g"), col("source_g"))

  private val q28Sql =
    """SELECT COALESCE(lang, 'ALL') AS lang_g,
      |  COALESCE(source, 'ALL') AS source_g,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY CUBE(lang, source)
      |ORDER BY lang_g, source_g""".stripMargin

  /** BM25 retrieval scoring (q47): rank documents against a fixed query
    * — the relevance-filtering step of a curation pipeline. Same parity
    * discipline as q27: integer idf variant (N − df) instead of the log
    * formula (no transcendental cross-engine risk), k1=1.2 / b=0.75 as
    * exact decimal literals, per-term contributions added in FIXED
    * textual order via conditional pivots (a SUM over double rows would
    * have nondeterministic summation order). The plan is the retrieval
    * shape at scale: one explode, per-doc length partial-agg, a tiny
    * per-term df table broadcast back, TakeOrdered(10).
    */
  private[graft] val BmQuery = Seq("hash", "join", "merge")

  private def q47(s: SparkSession, d: String): DataFrame =
    bm25Scored(s, d)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)

  /** The full scored relation behind q47 (every doc matching ≥1 query
    * term, with its rounded BM25) — exposed for q94's hybrid fusion.
    */
  private[graft] def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("w"))
    val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val corpus = broadcast(dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_tokens")))
    val tf = words.filter(col("w").isin(BmQuery: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = broadcast(tf.groupBy(col("w")).agg(count(lit(1)).as("df")))
    val scored = tf.join(df, "w").join(dl, "doc_id").crossJoin(corpus)
      .select(col("doc_id"), col("w"),
        ((col("n_docs") - col("df")) * col("tf") * lit(2.2) /
          (col("tf") + lit(0.3) + lit(0.9) *
            ((col("dl") * col("n_docs")).cast("double") /
              col("tot_tokens").cast("double")))).as("s"))
    val perTerm = scored.groupBy(col("doc_id"))
      .pivot("w", BmQuery).agg(first(col("s")))
    perTerm
      .select(col("doc_id"),
        round(BmQuery.map(t => coalesce(col(t), lit(0.0))).reduce(_ + _), 4)
          .as("bm25"))
  }

  /** Chunk-level BM25 retrieval (q108) — q47's ranking discipline on
    * q105's retrieval units: the corpus is split into overlapping
    * token windows (the granularity a retrieval/RAG pipeline actually
    * serves), then ranked against the fixed query with CHUNK-level
    * tf/length statistics and chunk-level df. This is the operator
    * between q105 and a reader: "which 32-token spans answer this
    * query", with start_tok mapping each hit back into its source
    * document. Same cross-engine parity discipline as q47 (integer
    * idf, fixed-order per-term sums, exact decimal literals).
    *
    * Scale shape: q47's with chunks as rows — the chunker is a
    * scan-stage flatMap (q105's audit), per-chunk lengths partial-agg
    * map-side, the per-term df table and corpus stats broadcast back,
    * TakeOrdered(10). start_tok is DERIVED (chunk_id × stride), so
    * only narrow per-chunk stats ever shuffle.
    */
  private def q108(s: SparkSession, d: String): DataFrame =
    chunkScored(Tables.documents(s, d))
      .orderBy(col("bm25").desc, col("doc_id"), col("chunk_id"))
      .limit(10)

  /** Chunk-level retrieval TOKENIZATION, spelled once — chunker +
    * `[a-z]+`-over-lowercase word extraction. Shared by [[chunkScored]]
    * and the streaming scorer's frozen-stats builder so the two
    * retrieval surfaces can never fork on the token class (the
    * `Dedup.WordRe` discipline applied here).
    */
  private[graft] def chunkWords(docs: DataFrame): DataFrame =
    Selection.chunkDocs(docs)
      .select(col("doc_id"), col("chunk_id"),
        explode(regexp_extract_all(lower(col("chunk_text")),
          lit("[a-z]+"), lit(0))).as("w"))

  /** The full scored relation behind q108 (every chunk matching ≥1
    * query term, with its rounded chunk-level BM25) — the pre-top-k
    * surface the streaming scorer's convergence spec compares against
    * (the `bm25Scored` pattern, one level down).
    */
  private[graft] def chunkScored(docs: DataFrame): DataFrame = {
    val words = chunkWords(docs)
    val dl = words.groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("dl"))
    val corpus = broadcast(dl.agg(count(lit(1)).as("n_chunks"),
      sum(col("dl")).as("tot_tokens")))
    val tf = words.filter(col("w").isin(BmQuery: _*))
      .groupBy(col("doc_id"), col("chunk_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df = broadcast(tf.groupBy(col("w")).agg(count(lit(1)).as("df")))
    val scored = tf.join(df, "w").join(dl, Seq("doc_id", "chunk_id"))
      .crossJoin(corpus)
      .select(col("doc_id"), col("chunk_id"), col("w"),
        ((col("n_chunks") - col("df")) * col("tf") * lit(2.2) /
          (col("tf") + lit(0.3) + lit(0.9) *
            ((col("dl") * col("n_chunks")).cast("double") /
              col("tot_tokens").cast("double")))).as("s"))
    scored.groupBy(col("doc_id"), col("chunk_id"))
      .pivot("w", BmQuery).agg(first(col("s")))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * lit(Selection.ChunkS.toLong)).as("start_tok"),
        round(BmQuery.map(t => coalesce(col(t), lit(0.0))).reduce(_ + _), 4)
          .as("bm25"))
  }

  // lazy: the q75Sql discipline for the other direction of the
  // TextAnalysis ↔ Selection init cycle
  private lazy val q108Sql = {
    val terms = BmQuery.map(t => s"'$t'").mkString(", ")
    val fixedSum = BmQuery.map(t =>
      s"COALESCE(MAX(CASE WHEN w = '$t' THEN s END), CAST(0 AS DOUBLE))")
      .mkString(" + ")
    val (w, st) = (Selection.ChunkW, Selection.ChunkS)
    s"""WITH docs AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |  FROM documents),
       |stt AS (
       |  SELECT doc_id, ws, len(ws) AS n,
       |    unnest(range(0, greatest(len(ws), 1), $st)) AS start
       |  FROM docs),
       |ch AS (
       |  SELECT doc_id, start // $st AS chunk_id,
       |    array_to_string(ws[start + 1 : least(start + $w, n)], ' ')
       |      AS chunk_text
       |  FROM stt WHERE start = 0 OR start - $st + $w < n),
       |words AS (
       |  SELECT doc_id, chunk_id,
       |    unnest(regexp_extract_all(lower(chunk_text), '[a-z]+')) AS w
       |  FROM ch),
       |dl AS (SELECT doc_id, chunk_id, COUNT(*) AS dl FROM words
       |       GROUP BY 1, 2),
       |corpus AS (SELECT COUNT(*) AS n_chunks, SUM(dl) AS tot_tokens
       |           FROM dl),
       |tf AS (SELECT doc_id, chunk_id, w, COUNT(*) AS tf FROM words
       |       WHERE w IN ($terms) GROUP BY 1, 2, 3),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT doc_id, chunk_id, w,
       |    (corpus.n_chunks - df.df) * tf.tf * CAST(2.2 AS DOUBLE) /
       |      (tf.tf + CAST(0.3 AS DOUBLE) + CAST(0.9 AS DOUBLE) *
       |        (CAST(dl.dl * corpus.n_chunks AS DOUBLE) /
       |          CAST(corpus.tot_tokens AS DOUBLE))) AS s
       |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id, chunk_id)
       |  CROSS JOIN corpus),
       |bm AS (
       |  SELECT doc_id, chunk_id, round($fixedSum, 4) AS bm25
       |  FROM scored GROUP BY doc_id, chunk_id)
       |SELECT doc_id, chunk_id, chunk_id * $st AS start_tok, bm25
       |FROM bm ORDER BY bm25 DESC, doc_id, chunk_id LIMIT 10""".stripMargin
  }

  /** q47's CTE body up to the scored relation — shared with q94's
    * hybrid-fusion oracle.
    */
  private[graft] val bm25SqlCtes = {
    val terms = BmQuery.map(t => s"'$t'").mkString(", ")
    val fixedSum = BmQuery.map(t =>
      s"COALESCE(MAX(CASE WHEN w = '$t' THEN s END), CAST(0 AS DOUBLE))")
      .mkString(" + ")
    s"""words AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |  FROM documents),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY 1),
       |corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_tokens FROM dl),
       |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words
       |       WHERE w IN ($terms) GROUP BY 1, 2),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT doc_id, w,
       |    (corpus.n_docs - df.df) * tf.tf * CAST(2.2 AS DOUBLE) /
       |      (tf.tf + CAST(0.3 AS DOUBLE) + CAST(0.9 AS DOUBLE) *
       |        (CAST(dl.dl * corpus.n_docs AS DOUBLE) /
       |          CAST(corpus.tot_tokens AS DOUBLE))) AS s
       |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN corpus),
       |bm AS (
       |  SELECT doc_id, round($fixedSum, 4) AS bm25
       |  FROM scored GROUP BY doc_id)""".stripMargin
  }

  private val q47Sql =
    s"""WITH $bm25SqlCtes
       |SELECT doc_id, bm25 FROM bm
       |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  /** Repeated-content quality signals (q53) — the Gopher-style repetition
    * filters of a curation pipeline: per-document duplicate-word fraction
    * and most-frequent-bigram mass. Computed via explode → grouped counts
    * (work ∝ corpus tokens, map-side partial aggregation, only
    * (doc_id, gram, count) rows ever shuffle — never the text), NOT via
    * per-row array lambdas: a frequency count inside a HOF is O(len²)
    * per document, which a 150k-word document turns into 2×10¹⁰ ops.
    * Fractions are one IEEE division of exact longs, so both engines
    * agree bit-for-bit.
    */
  private def q53(s: SparkSession, d: String): DataFrame = {
    val ws = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(ws).as("w"))
    val uni = words.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_uniq"))
    // adjacent pairs via the shared plain-JVM extractor (same \S+
    // class): the transform(sequence, element_at) lambda spelling is
    // CodegenFallback-interpreted — the q24 lesson measured it 3.5x
    // slower — and duplicated what bigramEntries already does
    val bigrams = bigramEntries(Tables.documents(s, d))
      .select(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("g"))
    val bg = bigrams.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram"))
    // LEFT join: a 0/1-word document has no bigram rows, and an inner
    // join would emit NO verdict for exactly the near-empty documents a
    // repetition filter most needs to judge — they pass with a 0
    // bigram fraction instead of vanishing (oracle mirrors the join)
    uni.join(bg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_uniq"),
        ((col("n_words") - col("n_uniq")).cast("double") / col("n_words"))
          .as("dup_word_frac"),
        coalesce(col("top_bigram").cast("double") / col("n_bigrams"),
          lit(0.0)).as("top_bigram_frac"))
      .withColumn("rep_ok",
        col("dup_word_frac") <= lit(0.5) && col("top_bigram_frac") <= lit(0.1))
      .orderBy(col("doc_id"))
  }

  private val q53Sql =
    """WITH w AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS w
      |  FROM documents),
      |uni AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
      |    COUNT(*) AS n_uniq
      |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
      |  GROUP BY doc_id),
      |bgx AS (
      |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
      |        FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws
      |              FROM documents))),
      |bg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |    CAST(MAX(c) AS BIGINT) AS top_bigram
      |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM bgx GROUP BY 1, 2)
      |  GROUP BY doc_id)
      |SELECT doc_id, n_words, n_uniq,
      |  CAST(n_words - n_uniq AS DOUBLE) / n_words AS dup_word_frac,
      |  COALESCE(CAST(top_bigram AS DOUBLE) / n_bigrams, 0.0)
      |    AS top_bigram_frac,
      |  CAST(n_words - n_uniq AS DOUBLE) / n_words <= 0.5
      |    AND COALESCE(CAST(top_bigram AS DOUBLE) / n_bigrams, 0.0) <= 0.1
      |    AS rep_ok
      |FROM uni LEFT JOIN bg USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Sketch-based corpus profile (q56): per-language vocabulary size and
    * distinct-document count via HyperLogLog++ (`approx_count_distinct`)
    * and median document length via the quantile sketch
    * (`percentile_approx`). This is the 100 TB counting path: sketches
    * are MERGEABLE, so both aggregates run as map-side partials of a few
    * KB each and one tiny final merge — exact `COUNT(DISTINCT w)` over a
    * 100 TB token stream would shuffle every distinct token instead.
    *
    * Rows-only catalog entry BY DESIGN: sketch outputs are
    * implementation-defined (Spark's HLL++/KLL vs DuckDB's), so
    * cross-engine hash parity is impossible; the correctness gate is
    * SketchSpec, which pins each estimate's relative error against the
    * exact aggregates computed on the same data.
    */
  private def q56(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val vocab = docs
      .select(col("lang"),
        explode(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("w"))
      .groupBy(col("lang"))
      .agg(approx_count_distinct(col("w"), 0.02).as("approx_vocab"))
    val perDoc = docs.groupBy(col("lang"))
      .agg(approx_count_distinct(md5(col("text")), 0.02)
          .as("approx_distinct_docs"),
        percentile_approx(col("n_chars"), lit(0.5), lit(1000))
          .as("p50_chars"),
        count(lit(1)).as("n_docs"))
    vocab.join(perDoc, "lang").orderBy(col("lang"))
  }

  private val LmWordRe = "\\S+".r
  private val CleanShardMod = 7 // doc_id % 10 == 7 is the "clean" shard

  /** (doc_id, w1, w2): adjacent word pairs per document — plain-JVM
    * flatMap (the q24/ngramEntries interpreted-HOF rationale).
    */
  private def bigramEntries(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val ws = LmWordRe.findAllIn(text).toArray
        (0 until ws.length - 1).iterator.map(i => (id, ws(i), ws(i + 1)))
      })
      .toDF("doc_id", "w1", "w2")
  }

  /** LM surprisal quality scoring (q65) — the CCNet-style "score every
    * document under a language model trained on a trusted shard" filter,
    * end to end IN the engine: a bigram model (add-one smoothing) trains
    * on the clean shard, broadcasts, and every other document gets its
    * per-bigram surprisal Σ⌈log₂ (U(w₁)+V)/(B(w₁,w₂)+1)⌉ plus an OOV
    * count. Surprisal is LOG2-QUANTIZED via integer bit-lengths
    * (`length(bin(x))`) — the q27 discipline: no transcendental-function
    * parity risk, so the cross-engine hash gate stays exact; swapping in
    * float ln at deployment is a one-line change to the same plan.
    *
    * Scale shape: the model is the small side by construction (vocab²
    * bounded, corpus unbounded) — B and U broadcast, V rides as a 1-row
    * broadcast aggregate; the corpus side is one narrow flatMap + two
    * broadcast-hash left joins + one per-doc aggregation. Corpus text
    * never shuffles; the only corpus-side exchange carries per-doc
    * integer totals.
    */
  private def q65(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // the clean-shard pair table feeds three model aggregations —
    // materialized once (q31 rationale)
    val clean = Scratch.materialize(
      bigramEntries(docs.filter(col("doc_id") % 10 === CleanShardMod)),
      "q65_clean")
    val b = clean.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val u = clean.groupBy(col("w1")).agg(count(lit(1)).as("u"))
    val v = clean.agg(countDistinct(col("w2")).as("v"))
    bigramEntries(docs.filter(col("doc_id") % 10 =!= CleanShardMod))
      .join(broadcast(b), Seq("w1", "w2"), "left")
      .join(broadcast(u), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        (length(bin(coalesce(col("u"), lit(0L)) + col("v"))) -
          length(bin(coalesce(col("c"), lit(0L)) + 1))).as("bits"),
        col("c").isNull.cast("int").as("oov"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("oov")).as("oov_pairs"),
        sum(col("bits")).as("bits_total"))
      .select(col("doc_id"), col("n_pairs"), col("oov_pairs"),
        col("bits_total"),
        round(col("bits_total").cast("double") / col("n_pairs"), 4)
          .as("mean_bits"))
      .orderBy(col("doc_id"))
  }

  /** q65's CTE body through the per-pair `scored` relation — shared
    * with q110's curriculum oracle (the bm25SqlCtes pattern).
    */
  private val lmSqlCtes =
    s"""docs AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, ws, unnest(range(1, greatest(len(ws), 1))) AS i
       |  FROM docs),
       |pairs AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM pos),
       |b AS (SELECT w1, w2, COUNT(*) AS c FROM pairs
       |      WHERE doc_id % 10 = $CleanShardMod GROUP BY w1, w2),
       |u AS (SELECT w1, COUNT(*) AS u FROM pairs
       |      WHERE doc_id % 10 = $CleanShardMod GROUP BY w1),
       |v AS (SELECT COUNT(DISTINCT w2) AS v FROM pairs
       |      WHERE doc_id % 10 = $CleanShardMod),
       |scored AS (
       |  SELECT p.doc_id,
       |    LENGTH(bin(COALESCE(u.u, 0) + v.v))
       |      - LENGTH(bin(COALESCE(b.c, 0) + 1)) AS bits,
       |    CASE WHEN b.c IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM pairs p
       |  LEFT JOIN b USING (w1, w2)
       |  LEFT JOIN u USING (w1)
       |  CROSS JOIN v
       |  WHERE p.doc_id % 10 <> $CleanShardMod)""".stripMargin

  private val q65Sql =
    s"""WITH $lmSqlCtes
       |SELECT doc_id, COUNT(*) AS n_pairs,
       |  CAST(SUM(oov) AS BIGINT) AS oov_pairs,
       |  CAST(SUM(bits) AS BIGINT) AS bits_total,
       |  round(CAST(SUM(bits) AS DOUBLE) / COUNT(*), 4) AS mean_bits
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val CurrPhases = 10 // curriculum deciles

  /** Curriculum ORDERING manifest (q110) — the data-ordering policy
    * q76's uniform epoch shuffle cannot express: order the training
    * corpus easy → hard by a model-based difficulty signal (q65's
    * per-document mean LM surprisal — the classic curriculum-learning
    * criterion), grouped into `CurrPhases` global difficulty deciles.
    * The manifest row is (doc_id, difficulty, phase); the emitted
    * (phase, difficulty, doc_id) order IS the curriculum sequence a
    * trainer consumes phase by phase.
    *
    * Scale shape: difficulty is q65's plan (broadcast bigram model, no
    * corpus text in any exchange); the decile boundaries are ONE exact
    * percentile aggregate collected as a 9-value driver probe (the
    * q59/q66 bounded-probe discipline; `percentile_approx` is the
    * same-call-site sketch swap at 100 TB, the q29 note), and phase
    * assignment is a codegen'd comparison chain against 9 broadcast
    * literals — NO global window, no single-partition rank funnel
    * (the trap a naive ntile spelling would hit).
    *
    * Boundary parity is INTEGER-exact, not rounded-double (both
    * engines linearly interpolate percentiles in doubles, so a
    * boundary within ~1 ulp of a .00005 edge could round differently
    * at 4 dp and flip a phase on an unlucky corpus). Here the
    * percentile runs over the difficulty in exact ten-thousandths
    * (BIGINT) and the boundary is the FLOOR of the interpolated value:
    * with integer order statistics and decile fractions, the true
    * interpolant is a rational with denominator 10 — either exactly an
    * integer (both engines compute it exactly; products ≪ 2⁵³) or at
    * least 0.1 from one — so a 1-ulp disagreement can never cross the
    * floor, and the integer comparisons below are bit-exact.
    */
  private def q110(s: SparkSession, d: String): DataFrame = {
    val diff = Scratch.materialize(
      q65(s, d).select(col("doc_id"), col("mean_bits").as("difficulty"),
        round(col("mean_bits") * 10000, 0).cast("long").as("di")),
      "q110_diff") // feeds the boundary aggregate AND the assignment
    val qs = (1 until CurrPhases).map(i => i.toDouble / CurrPhases)
    val bs = diff.agg(expr(
        s"transform(percentile(di, array(${qs.mkString(", ")})), " +
          "x -> CAST(floor(x) AS BIGINT))"))
      .head().getSeq[Long](0)
    val phase = bs.foldLeft(lit(1))((acc, b) =>
      acc + when(col("di") > lit(b), 1).otherwise(0))
    diff.select(col("doc_id"), col("difficulty"), phase.as("phase"))
      .orderBy(col("phase"), col("difficulty"), col("doc_id"))
  }

  private val q110Sql = {
    val qs = (1 until CurrPhases).map(i => i.toDouble / CurrPhases)
    val phase = (1 to CurrPhases - 1).map(i =>
      s"(CASE WHEN di > bs[$i] THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $lmSqlCtes,
       |docdiff AS (
       |  SELECT doc_id, round(CAST(SUM(bits) AS DOUBLE) / COUNT(*), 4)
       |    AS difficulty,
       |    CAST(round(round(CAST(SUM(bits) AS DOUBLE) / COUNT(*), 4)
       |      * 10000, 0) AS BIGINT) AS di
       |  FROM scored GROUP BY doc_id),
       |bnd AS (
       |  SELECT list_transform(
       |    quantile_cont(di, [${qs.mkString(", ")}]),
       |    x -> CAST(floor(x) AS BIGINT)) AS bs
       |  FROM docdiff)
       |SELECT doc_id, difficulty, 1 + $phase AS phase
       |FROM docdiff CROSS JOIN bnd
       |ORDER BY phase, difficulty, doc_id""".stripMargin
  }

  // final: compile-time constant, inlined at use sites — Selection's
  // q75 oracle interpolates this DURING ITS OWN INIT, which the q108
  // chunk entries made reachable from TextAnalysis's init (the
  // TextAnalysis ↔ Selection cycle): a plain val read mid-init returns
  // 0 and silently generates a merge-less (and unparseable) oracle
  private[graft] final val BpeMerges = 16

  /** The 16-round BPE merge loop UNROLLED as DuckDB CTE layers — the
    * driver-verifiable oracle for q66/q71/q75 (closing round-5's
    * "rows-only by design" caveat): each layer re-derives its own
    * argmax pair (`ORDER BY pf DESC, l, r LIMIT 1` — q66's exact
    * tie-break), so the oracle is fully independent of the engine's
    * training run; only the ROUND COUNT is pinned, which is a constant
    * of the operator, not data.
    *
    * Symbol lists ride as a ",,"-joined string wrapped in ",," on both
    * ends; one merge application is then a single
    * `replace(',l,,r,' → ',lr,')`. The pattern consumes exactly ONE
    * comma of each surrounding double-separator, so left-to-right
    * non-overlapping `replace` chains across adjacent matches
    * (`,,a,,a,,a,,a,,` → `,,aa,,aa,,`) and cannot match across symbol
    * boundaries (symbols never contain commas) — bit-for-bit
    * `bpeApplyRule` semantics. After layer v16 each word's syms string
    * IS its trained encoding: training-order replay, which BpeSpec
    * pins equivalent to the rank-priority encoder on the real corpus
    * vocabulary.
    */
  private[graft] def bpeOracleCtes: String = {
    val bref = "\\1" // regexp_replace backreference, kept out of the
                     // interpolated literal (s"" would reject \1)
    val b = new StringBuilder
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    // v(k) referencing v(k-1) twice (pair counting + merge apply) would
    // expand v0 2^16 times — materialization keeps each layer computed
    // exactly once, so the oracle is 16 linear passes over the vocab.
    // The merge application is a LEFT JOIN ON TRUE, not a cross join:
    // when pairs EXHAUST before round 16 (degenerate vocab), b$k is
    // empty and a cross join would collapse v$k — and every later
    // layer — to zero rows, silently emptying q71/q75's oracle while
    // the Spark trainer handles exhaustion; the left join degrades
    // each exhausted layer to identity instead, matching the engine.
    b ++= s"""WITH words AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |  FROM documents),
       |vocab AS (SELECT w, COUNT(*) AS freq FROM words GROUP BY w),
       |v0 AS MATERIALIZED (SELECT w,
       |  ',,' || regexp_replace(w, '(.)', '$bref,,', 'g') || '</w>,,' AS syms,
       |  freq FROM vocab)""".stripMargin
    for (k <- 1 to BpeMerges) {
      b ++= s""",
         |p$k AS (
         |  SELECT ss[i] AS l, ss[i+1] AS r, SUM(freq) AS pf
         |  FROM (SELECT list_filter(string_split(syms, ',,'), x -> x <> '') AS ss,
         |        freq FROM v${k - 1}),
         |       unnest(range(1, len(ss))) AS t(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT l, r, pf FROM p$k ORDER BY pf DESC, l, r LIMIT 1),
         |v$k AS MATERIALIZED (SELECT w,
         |  CASE WHEN b.l IS NULL THEN syms
         |       ELSE replace(syms, ',' || b.l || ',,' || b.r || ',',
         |                    ',' || b.l || b.r || ',') END AS syms,
         |  freq FROM v${k - 1} LEFT JOIN b$k b ON TRUE)""".stripMargin
    }
    b.result()
  }

  private val q66Sql =
    bpeOracleCtes +
      (1 to BpeMerges).map(k =>
        s"""SELECT $k AS "rank", l AS "left", r AS "right",
           |  CAST(pf AS BIGINT) AS pair_freq FROM b$k""".stripMargin)
        .mkString("\n", "\nUNION ALL ", "\nORDER BY \"rank\"")

  private val q71Sql =
    bpeOracleCtes + s""",
       |enc AS (SELECT w,
       |  len(list_filter(string_split(syms, ',,'), x -> x <> '')) AS n_bpe
       |  FROM v$BpeMerges),
       |docw AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |  FROM documents)
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_toks,
       |  round(CAST(SUM(n_bpe) AS DOUBLE) / COUNT(*), 4) AS bpe_per_word
       |FROM docw JOIN enc USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** In-engine BPE merge training (q66) — the tokenizer-training step of
    * an LLM data pipeline, the q59 discipline applied to text: the ONLY
    * corpus-scale stage is one (word → freq) aggregation (text reduces
    * to a bounded vocabulary table in a single shuffle); the merge loop
    * then runs on that bounded table — per round one pair-count
    * aggregation, a 1-ROW driver argmax probe (the k-means/CC bounded-
    * probe discipline), and a narrow merge-application map, ping-pong
    * materialized. Work per round is O(vocab), independent of corpus
    * size: at 100 TB the rounds cost exactly what they cost here.
    *
    * Oracle: the merge sequence is deterministic (integer pair
    * frequencies, total (freq desc, pair) tie-break) and the round
    * count is a bounded constant, so the loop UNROLLS into one DuckDB
    * statement (`bpeOracleCtes` — 16 CTE layers, each re-deriving its
    * own argmax), giving this entry a full hash-checked CORRECTNESS
    * row; BpeSpec additionally pins the semantics in-repo (textbook
    * merge sequence on a constructed vocabulary, determinism, monotone
    * vocabulary compression).
    */
  /** One merge-rule application, left-to-right with non-overlapping
    * consumption — the SINGLE definition shared by training (q66), the
    * rank-priority encoder (q71), and BpeSpec's definitional sequential
    * encoder, so the three cannot drift apart.
    */
  private[graft] def bpeApplyRule(syms: Seq[String], l: String, r: String)
      : Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  private[graft] def bpeTrainOn(vocab0: DataFrame, merges: Int)
      : Seq[(String, String, Long)] = {
    val s = vocab0.sparkSession
    import s.implicits._
    var vocab = Scratch.materialize(
      vocab0.as[(String, Long)]
        .map { case (w, f) => (w.map(_.toString) :+ "</w>", f) }
        .toDF("syms", "freq"), "q66_v0")
    val rules = Seq.newBuilder[(String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < merges && !exhausted) {
      val best = vocab.as[(Seq[String], Long)]
        .flatMap { case (syms, f) =>
          syms.iterator.sliding(2).withPartial(false)
            .map(p => (p.head, p(1), f))
        }
        .toDF("l", "r", "f")
        .groupBy(col("l"), col("r")).agg(sum(col("f")).as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r"))
        .limit(1).collect() // bounded driver probe: one rule per round
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, pf) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        rules += ((l, r, pf))
        vocab = Scratch.materialize(
          vocab.as[(Seq[String], Long)]
            .map { case (syms, f) => (bpeApplyRule(syms, l, r), f) }
            .toDF("syms", "freq"), s"q66_v${round % 2 + 1}")
        round += 1
      }
    }
    rules.result()
  }

  /** BPE ENCODE with a trained merge table (the q71 kernel): start from
    * characters + `</w>`, repeatedly apply the LOWEST-RANK adjacent
    * merge present — the standard tokenizer-apply algorithm, equivalent
    * by construction to replaying the merges in training order
    * (BpeSpec asserts that equivalence on the real corpus vocabulary).
    */
  /** Train on `vocab` and index the merge table by rank — the ONE
    * rank-map constructor for every consumer of the trained tokenizer
    * (q71's counts, q75's tensors), so their encodings can never
    * drift apart.
    */
  private[graft] def bpeRank(vocab: DataFrame): Map[(String, String), Int] =
    bpeTrainOn(vocab, BpeMerges).zipWithIndex
      .map { case ((l, r, _), i) => (l, r) -> i }.toMap

  private[graft] def bpeEncode(word: String,
      rank: Map[(String, String), Int]): Seq[String] = {
    var syms: Seq[String] = word.map(_.toString) :+ "</w>"
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bl = ""; var br = ""
      var i = 0
      while (i + 1 < syms.length) {
        val rr = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (rr < bestRank) { bestRank = rr; bl = syms(i); br = syms(i + 1) }
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else syms = bpeApplyRule(syms, bl, br)
    }
    syms
  }

  /** Corpus word-frequency table — q66's one corpus-scale shuffle. */
  private[graft] def bpeVocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  private def q66(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // TRAINING entry: always retrain, refresh the shared rank map so
    // the encode consumers (q71/q75) reuse THIS training instead of
    // re-running the 16 merge rounds — the ModelCache discipline the
    // classifier/k-means families already follow (without it, BPE
    // trains three times per catalog pass)
    val merges = bpeTrainOn(bpeVocab(s, d), BpeMerges)
    ModelCache.put("bpe", d,
      merges.zipWithIndex.map { case ((l, r, _), i) => (l, r) -> i }.toMap)
    merges.zipWithIndex
      .map { case ((l, r, pf), i) => (i + 1, l, r, pf) }
      .toDF("rank", "left", "right", "pair_freq")
  }

  private val ClsD = 256 // hashed feature dim (word features)
  private val ClsRounds = 8
  private val ClsLr = 32.0 // initial step; the line search adapts it

  /** Hashed bag-of-words features for the q73 classifier: one row per
    * (doc, feature) — presence of each hashed unigram, a bias, and a
    * scaled length — so the corpus-scale representation is narrow
    * (doc_id, idx, x) triples and the model is a dense (ClsD+2)-float
    * vector.
    */
  private[graft] def clsFeatures(docs: DataFrame): DataFrame = {
    val uni = docs
      .select(col("doc_id"), array_distinct(regexp_extract_all(
        lower(col("text")), lit("[a-z]+"), lit(0))).as("ws"))
      // L2-normalized presence: without it every active feature moves
      // together and full-batch steps overshoot (measured: loss
      // oscillates at any step size that also learns)
      .select(col("doc_id"), explode(col("ws")).as("w"),
        (lit(1.0) / sqrt(greatest(size(col("ws")), lit(1)))).as("x"))
      .select(col("doc_id"), pmod(hash(col("w")), lit(ClsD)).cast("int")
        .as("idx"), col("x"))
    val bias = docs.select(col("doc_id"), lit(ClsD).cast("int").as("idx"),
      lit(1.0).as("x"))
    val len = docs.select(col("doc_id"), lit(ClsD + 1).cast("int").as("idx"),
      (size(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .cast("double") / 20.0).as("x"))
    uni.unionByName(bias).unionByName(len)
  }

  /** The q21 heuristic verdict as a training label. */
  private[graft] def clsLabels(docs: DataFrame): DataFrame =
    qualityCounts(docs)
      .select(col("doc_id"), qualityOk.cast("double").as("y"))

  /** In-engine logistic-regression training (the q73 kernel): full-batch
    * gradient descent with BACKTRACKING line search on the hashed
    * features. Per round, ONE pass over the feature triples computes
    * every document's margin and the mean log-loss (broadcast join
    * against the (ClsD+2)-row weight table, per-doc sum), one narrow
    * aggregation reduces (p − y)·x to the per-feature gradient, and the
    * line search re-evaluates the loss at candidate steps until it
    * strictly decreases (halving on failure, growing 1.5× on success) —
    * all driver probes bounded by ClsD+2 rows or one scalar, the
    * q59/q66 bounded-probe discipline. Determinism: the GRADIENT
    * accumulates in exact DECIMAL (associative — Conventions.scala
    * applied to training; measured: decimal on the 4-candidate probes
    * too costs 2× the whole loop, 10.4 vs 5.8 s), while the loss
    * probes stay double sums guarded by a 1e-9 acceptance margin, so
    * the weight trajectory depends only on decimal-exact quantities
    * and improvements far above shuffle-order jitter. Returns the
    * weights and the accepted-loss trace, which is strictly decreasing
    * BY CONSTRUCTION — the spec's gate is that it also actually LEARNS
    * (accuracy beats the majority baseline).
    */
  private[graft] def clsTrain(feats: DataFrame, labels: DataFrame)
      : (Array[Double], Seq[Double]) = {
    val s = feats.sparkSession
    import s.implicits._
    // the loop is job-fixed-cost-bound. Its aggregations plan at the
    // session's shuffle width, and AQE coalesces their model-sized
    // post-shuffle partitions. The feature triples keep a plan-local 4
    // partitions: a 4/8/16/32 sweep of that width is flat-to-worse, and
    // fusing the per-round gradient into the line-search job (4 decimal
    // gradients per probe) measures SLOWER than the split shape, so this
    // spelling is the floor. Each phase is a ledger leg (the
    // materialize is one by its scratch name).
    val f = Scratch.materialize(
      feats.join(labels, "doc_id").repartition(4), "q73_feats")
    val Seq((n, nPos)) = Ledger.leg("label-counts")(labels
      .agg(count(lit(1)).cast("double"), sum(col("y")).cast("double"))
      .as[(Double, Double)].collect().toSeq)

    def docOf(w: Array[Double]) = {
      val wDf = broadcast(
        w.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v) }
          .toDF("idx", "wv"))
      f.join(wDf, "idx")
        .groupBy(col("doc_id"), col("y"))
        .agg(sum((col("x") * col("wv")))
          .cast("double").as("m"))
        .select(col("doc_id"), col("y"),
          (lit(1.0) / (lit(1.0) + exp(-col("m")))).as("p"))
    }
    // the line search evaluates FOUR candidate steps in ONE job: four
    // weight columns broadcast together, four margins and four stable
    // log-losses (ln(1+e^m) − y·m) aggregated in a single pass — the
    // probe count is what a toy-scale round actually pays for
    def lossesOf(cands: Seq[Array[Double]]): Seq[Double] = {
      val wDf = broadcast(
        (0 until ClsD + 2).map(i =>
          (i, cands(0)(i), cands(1)(i), cands(2)(i), cands(3)(i)))
          .toDF("idx", "c0", "c1", "c2", "c3"))
      val ms = (0 until 4).map(j =>
        sum((col("x") * col(s"c$j")))
          .cast("double").as(s"m$j"))
      val ls = (0 until 4).map { j =>
        val m = col(s"m$j")
        sum((log(lit(1.0) + exp(-abs(m))) + greatest(m, lit(0.0)) -
          col("y") * m)).cast("double").as(s"l$j")
      }
      f.join(wDf, "idx")
        .groupBy(col("doc_id"), col("y"))
        .agg(ms.head, ms.tail: _*)
        .agg(ls.head, ls.tail: _*)
        .as[(Double, Double, Double, Double)].head()
        .productIterator.map(_.asInstanceOf[Double] / n).toSeq
    }

    var w = Array.fill(ClsD + 2)(0.0)
    // closed-form optimum of the bias-only model: GD starts AT the
    // majority plateau and spends every round on the discriminative
    // features instead of walking the bias there first. A ONE-CLASS
    // label distribution has no finite optimum (log(0) = -Inf would
    // poison every loss probe into NaN and stall training at garbage);
    // start at 0 there and let the rounds walk the bias.
    w(ClsD) =
      if (nPos <= 0.0 || nPos >= n) 0.0
      else math.log(nPos / (n - nPos))
    var loss = Ledger.leg("probe0")(lossesOf(Seq(w, w, w, w)).head)
    val losses = Seq.newBuilder[Double]
    losses += loss
    var lr = ClsLr
    var stalled = false
    for (_ <- 1 to ClsRounds if !stalled) {
      val grad = Ledger.leg("grad")(f.join(docOf(w)
          .select(col("doc_id"), col("p"), col("y").as("yd")), "doc_id")
        .groupBy(col("idx"))
        .agg(sum((col("x") * (col("p") - col("yd"))).cast("decimal(30,15)"))
          .cast("double").as("g"))
        .as[(Int, Double)].collect() // bounded: ClsD+2 rows
        .foldLeft(Array.fill(ClsD + 2)(0.0)) {
          case (acc, (i, g)) => acc(i) = g / n; acc
        })
      def candAt(step: Double) =
        Array.tabulate(ClsD + 2)(i => w(i) - step * grad(i))
      var tries = 0
      var accepted = false
      while (!accepted && tries < 3) {
        val steps = Seq(lr * 4, lr * 1.5, lr, lr / 4)
        val ls = Ledger.leg("linesearch")(lossesOf(steps.map(candAt)))
        // 1e-9 acceptance margin: the probe losses are double sums
        // (shuffle-order jitter ~1e-15 relative), so require a real
        // improvement — the trajectory then depends only on the
        // decimal-exact gradient and improvements far above jitter
        val wins = steps.zip(ls).filter(_._2 < loss - 1e-9)
        if (wins.nonEmpty) {
          // the largest improving step (backtracking spirit) — greedy
          // min-loss would also work; largest-step converges in fewer
          // rounds on this convex objective
          val (st, cl) = wins.head
          w = candAt(st); loss = cl; losses += cl; lr = st; accepted = true
        } else { lr /= 16; tries += 1 }
      }
      stalled = !accepted // converged: every tried step failed to improve
    }
    (w, losses.result())
  }

  /** Quality-classifier training + scoring (q73) — the fastText-style
    * quality filter of real pipelines, trained IN the engine: the q21
    * heuristic's verdicts are distilled into a logistic-regression
    * model over hashed bag-of-words features (heuristic-labeled
    * distillation — exactly how production quality classifiers
    * bootstrap), then every document is scored by the learned model.
    *
    * Scale shape: features are narrow (doc_id, idx, x) triples, the
    * model is a broadcast (ClsD+2)-row table, each round is two
    * corpus-linear aggregations with a bounded driver probe, and
    * scoring is one more broadcast join — no shuffle ever carries
    * text. Rows-only entry BY DESIGN (sigmoid/exp training is not one
    * SQL statement); ClassifierSpec pins strictly-decreasing loss,
    * determinism, and accuracy above the majority baseline.
    */
  /** Train + score: `(doc_id, y, margin)` with the 4-dp-rounded margin,
    * plus the accepted-loss trace — the shared back half of q73/q86.
    */
  /** Driver-side classifier model — the (ClsD+2)-vector of weights and
    * the accepted-loss trace: everything q86's certificate needs,
    * model-sized, so it lives in [[ModelCache]] and q86 reads it
    * instead of re-running q73's full GD loop.
    */
  private[graft] final case class ClsModel(w: IndexedSeq[Double],
      losses: Seq[Double])

  private def clsModel(s: SparkSession, d: String): ClsModel = {
    val docs = Tables.documents(s, d)
    val (w, losses) = clsTrain(clsFeatures(docs), clsLabels(docs))
    ClsModel(w.toIndexedSeq, losses)
  }

  /** Score the corpus with the given weights — ONE broadcast-join pass
    * producing `(doc_id, margin, y)`; identical arithmetic whether the
    * weights were just trained or came from the cache.
    */
  private def clsScoreWith(s: SparkSession, d: String,
      w: IndexedSeq[Double]): DataFrame = {
    val docs = Tables.documents(s, d)
    import s.implicits._
    val wDf = broadcast(
      w.zipWithIndex.map { case (v, i) => (i, v) }.toDF("idx", "wv"))
    clsFeatures(docs).join(wDf, "idx")
      .groupBy(col("doc_id"))
      .agg(round(sum((col("x") * col("wv")).cast("decimal(30,15)"))
        .cast("double"), 4).as("margin"))
      .join(clsLabels(docs), "doc_id")
  }

  private[graft] def clsScored(s: SparkSession, d: String)
      : (DataFrame, Seq[Double]) = {
    // TRAINING path: always retrain, refresh the shared model
    val m = ModelCache.put("cls", d, clsModel(s, d))
    (clsScoreWith(s, d, m.w), m.losses)
  }

  /** Certificate path: reuse the session's trained model if one exists
    * (training is deterministic — identical results either way).
    */
  private def clsScoredCached(s: SparkSession, d: String)
      : (DataFrame, Seq[Double]) = {
    val m = ModelCache.getOrCompute("cls", d)(clsModel(s, d))
    (clsScoreWith(s, d, m.w), m.losses)
  }

  /** Training-set-optimal decision threshold over the rounded margins —
    * the calibration step a skewed label prior makes necessary: with an
    * 87/13 prior the loss-optimal model can score EVERY document above
    * zero (measured at sf0.01: all-positive at threshold 0, accuracy ==
    * majority exactly, while AUC = 0.957), so "margin > 0" throws the
    * learned separation away. Deterministic: candidates are the
    * DISTINCT 4-dp margins — bounded by the margin range, not the
    * corpus — aggregated to (margin, n_pos, n_neg) counts, then one
    * driver scan picks the accuracy-max split (ties → smallest
    * threshold, all-positive split included as −∞). The collect is a
    * bounded model-sized probe (q59/q66 discipline), never corpus rows.
    */
  private[graft] def clsBestThr(scored: DataFrame): Double =
    clsBestThrFromCounts(clsMarginCounts(scored))

  /** `(margin, n_pos, n_neg)` counts over the rounded margins — the
    * margin-bounded SUFFICIENT STATISTIC for the threshold scan and
    * for every figure in q86's certificate (accuracy, majority
    * baseline, per-class mean margins, per-class doc counts are all
    * exact functions of these counts: the 0/1 labels sum exactly in
    * longs, so no double-ordering noise is introduced by the
    * re-derivation). Collected as a bounded model-sized probe and
    * cached per dataset ("clsCnt"), which is what lets the certificate
    * skip its corpus re-scoring pass entirely when q73 has already
    * scored this session (the corpus-sized scored relation stays OUT
    * of the cache; only this statistic goes in).
    */
  private[graft] def clsMarginCounts(scored: DataFrame)
      : Seq[(Double, Long, Long)] = {
    val s = scored.sparkSession
    import s.implicits._
    scored.groupBy(col("margin"))
      .agg(sum(col("y")).cast("long").as("np"),
        sum(lit(1.0) - col("y")).cast("long").as("nn"))
      .orderBy(col("margin"))
      .as[(Double, Long, Long)].collect().toSeq
  }

  private[graft] def clsBestThrFromCounts(
      cnt: Seq[(Double, Long, Long)]): Double = {
    val totPos = cnt.map(_._2).sum
    // threshold -inf: everything predicted positive
    var best = Double.NegativeInfinity
    var bestAcc = totPos
    var negBelow = 0L
    var posBelow = 0L
    cnt.foreach { case (m, np, nn) =>
      negBelow += nn; posBelow += np
      val acc = negBelow + (totPos - posBelow) // predict margin > m
      if (acc > bestAcc) { bestAcc = acc; best = m }
    }
    best
  }

  private def q73(s: SparkSession, d: String): DataFrame = {
    val (scored0, _) = clsScored(s, d)
    // materialized (the q86 discipline): clsBestThr's
    // probe and the returned relation otherwise EXECUTE the scoring
    // plan twice, and a per-doc double margin summed in two
    // independently-ordered executions could round differently at a
    // 4-dp boundary, making `predicted` inconsistent with the
    // collected threshold within one run
    val scored = Scratch.materialize(scored0, "q73_scored")
    // refresh the margin-count statistic alongside the model: q86's
    // certificate consumes it instead of re-scoring the corpus
    val cnt = ModelCache.put("clsCnt", d, clsMarginCounts(scored))
    val thr = clsBestThrFromCounts(cnt)
    scored
      .select(col("doc_id"), col("y").cast("boolean").as("label"),
        col("margin"), (col("margin") > thr).as("predicted"))
      .orderBy(col("doc_id"))
  }

  /** BPE tokenizer APPLY (q71) — the other half of q66: encode the
    * corpus with the trained merge table and report per-document BPE
    * token counts (what a mixture budget or packing stage actually
    * consumes once a real tokenizer replaces the q20 regex).
    *
    * Scale shape: the encoder runs over the VOCABULARY, not the corpus
    * — tokenization is a pure function of the word, so the iterative
    * merge loop costs O(distinct words), and the corpus-scale pass is
    * explode → broadcast word→count join → per-doc sum (corpus text
    * never shuffles; the word table is the small side by construction).
    * Oracle: the unrolled q66 CTE stack replays the merges in training
    * order; its v16 layer IS each word's encoding (BpeSpec pins that
    * replay equivalent to this rank-priority encoder on the real
    * vocabulary), so the per-doc counts hash-check against DuckDB.
    */
  private def q71(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one corpus word-frequency pass feeds training AND the encoder
    // table (the q75 fix applied here too)
    val vocab = Scratch.materialize(bpeVocab(s, d), "q71_vocab")
    val rank = ModelCache.getOrCompute("bpe", d)(bpeRank(vocab))
    val wordToks = vocab.as[(String, Long)]
      .map { case (w, _) => (w, bpeEncode(w, rank).length.toLong) }
      .toDF("w", "n_bpe")
    Tables.documents(s, d)
      .select(col("doc_id"), explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+"), lit(0))).as("w"))
      .join(broadcast(wordToks), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_bpe")).as("n_bpe_toks"))
      .withColumn("bpe_per_word",
        round(col("n_bpe_toks").cast("double") / col("n_words"), 4))
      .orderBy(col("doc_id"))
  }

  /** Sketch CERTIFICATE (q84) — the driver-verifiable projection of the
    * rows-only q56: sketch outputs themselves are implementation-defined
    * (Spark HLL++/KLL vs DuckDB), so q56 can never hash cross-engine —
    * but the EXACT aggregates the sketches approximate can, and the
    * sketch-error claims can ride along as booleans the oracle pins to
    * TRUE. A green row therefore certifies (a) per-language exact
    * document/vocabulary/distinct-doc counts agree with DuckDB bit-for-
    * bit, and (b) every q56 sketch estimate landed inside its
    * documented error envelope (HLL++ rsd 0.02 → 3σ = 6%; KLL accuracy
    * 1000 → rank error 0.001, checked against the exact 0.45/0.55
    * quantile band). If a Spark upgrade drifts a sketch outside its
    * envelope, this row's hash breaks — which is exactly the signal a
    * rows-only entry could never give. (Exact distincts are
    * correctness-harness cost, not the 100 TB path — q56 remains the
    * production shape.)
    */
  private def q84(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = docs.select(col("lang"),
      explode(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("w"))
    val vocab = words.groupBy(col("lang"))
      .agg(countDistinct(col("w")).as("exact_vocab"),
        approx_count_distinct(col("w"), 0.02).as("av"))
    val perDoc = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("exact_distinct_docs"),
        approx_count_distinct(md5(col("text")), 0.02).as("ad"),
        percentile_approx(col("n_chars"), lit(0.5), lit(1000)).as("p50s"),
        expr("percentile(n_chars, array(0.45, 0.55))").as("band"))
    vocab.join(perDoc, "lang")
      .select(col("lang"), col("n_docs"), col("exact_vocab"),
        col("exact_distinct_docs"),
        (abs(col("av") - col("exact_vocab")) <=
          col("exact_vocab").cast("double") * 0.06).as("vocab_in_bounds"),
        (abs(col("ad") - col("exact_distinct_docs")) <=
          col("exact_distinct_docs").cast("double") * 0.06).as("docs_in_bounds"),
        (col("p50s") >= element_at(col("band"), 1) &&
          col("p50s") <= element_at(col("band"), 2)).as("p50_in_bounds"))
      .orderBy(col("lang"))
  }

  private val q84Sql =
    """WITH w AS (
      |  SELECT lang, unnest(regexp_extract_all(text, '\S+')) AS w
      |  FROM documents),
      |v AS (
      |  SELECT lang, CAST(COUNT(DISTINCT w) AS BIGINT) AS exact_vocab
      |  FROM w GROUP BY lang),
      |d AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS exact_distinct_docs
      |  FROM documents GROUP BY lang)
      |SELECT lang, n_docs, exact_vocab, exact_distinct_docs,
      |  TRUE AS vocab_in_bounds, TRUE AS docs_in_bounds,
      |  TRUE AS p50_in_bounds
      |FROM v JOIN d USING (lang) ORDER BY lang""".stripMargin

  /** Classifier CERTIFICATE (q86) — the driver-verifiable projection of
    * the rows-only q73 (sigmoid training can never hash cross-engine):
    * per-label exact counts of the q21-heuristic training labels
    * (DuckDB re-derives them independently — a real parity check on the
    * labeling pass), plus the training claims as oracle-pinned
    * booleans: the accepted-loss trace is strictly decreasing, and the
    * trained model's accuracy ON its labels beats the majority-class
    * baseline (it actually learned). A training regression breaks this
    * row's hash even though the weights themselves are unoracleable.
    */
  private def q86(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the margin-count statistic is every number this certificate
    // needs (re-scoring the corpus q73 had just scored would be the
    // catalog's steepest 30× slope). Reuse q73's counts
    // when this session trained already; a standalone run pays ONE
    // scoring+count pass — no materialize (the counts are the only
    // consumer), no second threshold pass, no third probe pass.
    val cnt = ModelCache.getOrCompute("clsCnt", d)(
      clsMarginCounts(clsScoredCached(s, d)._1))
    // after the counts exist the model is cached in every path (q73
    // put it; the standalone branch trained it via clsScoredCached)
    val losses = ModelCache.getOrCompute("cls", d)(clsModel(s, d)).losses
    val thr = clsBestThrFromCounts(cnt)
    val totPos = cnt.map(_._2).sum
    val totNeg = cnt.map(_._3).sum
    val n = (totPos + totNeg).toDouble
    // calibrated accuracy and majority baseline — exact: 0/1 labels
    // aggregated in longs, one final division each (the avg() spelling
    // this replaces summed the same 0/1 indicators, exactly)
    val correct = cnt.map { case (m, np, nn) => if (m > thr) np else nn }.sum
    val acc = correct / n
    val majority = math.max(totPos, totNeg) / n
    // per-class mean margins (does the model SEPARATE the classes?)
    // with the sentinel that keeps the claim honest on a degenerate
    // one-class corpus: an absent class means "not separated", never
    // a crash on an empty mean
    val mPos =
      if (totPos > 0) cnt.map { case (m, np, _) => m * np }.sum / totPos
      else Double.NegativeInfinity
    val mNeg =
      if (totNeg > 0) cnt.map { case (m, _, nn) => m * nn }.sum / totNeg
      else Double.PositiveInfinity
    val monotone = losses.sliding(2).forall {
      case Seq(a, b) => b < a
      case _ => true
    }
    // classes absent from the corpus emit no row, like the groupBy
    // spelling this replaces
    Seq((false, totNeg), (true, totPos))
      .filter(_._2 > 0)
      .map { case (label, nDocs) =>
        (label, nDocs, monotone, acc > majority, mPos > mNeg)
      }
      .toDF("label", "n_docs", "loss_monotone", "acc_beats_majority",
        "classes_separated")
      .orderBy(col("label"))
  }

  /** Per-SOURCE sketch certificate (q125) — q84's envelope check at the
    * granularity the sketch profile is actually consumed at (q84
    * pins per-language bounds over 5 wide groups; a
    * per-source regression — 20 narrower groups, smaller cardinalities
    * where HLL++ relative error is worst — could hide inside a green
    * q84). Same contract: exact per-source distinct-doc and vocabulary
    * counts hash against DuckDB bit-for-bit, and every HLL++ estimate
    * must land inside its documented 3σ envelope (rsd 0.02 → 6%) as an
    * oracle-pinned boolean. A Spark sketch drift now breaks at BOTH
    * granularities. (Exact distincts are correctness-harness cost, not
    * the 100 TB path — q56 remains the production shape.)
    */
  private def q125(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val vocab = docs.select(col("source"),
        explode(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("w"))
      .groupBy(col("source"))
      .agg(countDistinct(col("w")).as("exact_vocab"),
        approx_count_distinct(col("w"), 0.02).as("av"))
    val perDoc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("exact_distinct_docs"),
        approx_count_distinct(md5(col("text")), 0.02).as("ad"))
    vocab.join(perDoc, "source")
      .select(col("source"), col("n_docs"), col("exact_vocab"),
        col("exact_distinct_docs"),
        (abs(col("av") - col("exact_vocab")) <=
          col("exact_vocab").cast("double") * 0.06).as("vocab_in_bounds"),
        (abs(col("ad") - col("exact_distinct_docs")) <=
          col("exact_distinct_docs").cast("double") * 0.06)
          .as("docs_in_bounds"))
      .orderBy(col("source"))
  }

  private val q125Sql =
    """WITH w AS (
      |  SELECT source, unnest(regexp_extract_all(text, '\S+')) AS w
      |  FROM documents),
      |v AS (
      |  SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS exact_vocab
      |  FROM w GROUP BY source),
      |d AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS exact_distinct_docs
      |  FROM documents GROUP BY source)
      |SELECT source, n_docs, exact_vocab, exact_distinct_docs,
      |  TRUE AS vocab_in_bounds, TRUE AS docs_in_bounds
      |FROM v JOIN d USING (source) ORDER BY source""".stripMargin

  private val q86Sql = {
    val ok = qualityOkSql("text")
    s"""SELECT ($ok) AS label,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  TRUE AS loss_monotone, TRUE AS acc_beats_majority,
       |  TRUE AS classes_separated
       |FROM documents GROUP BY 1 ORDER BY label""".stripMargin
  }

  // ---- q114: per-source BOILERPLATE line removal (the CCNet/C4 policy
  // op this catalog lacked: template chrome that repeats across most
  // pages of a SOURCE — navigation, footers — is stripped, while text
  // that is merely long or merely duplicated corpus-wide is someone
  // else's job: q30/q61 drop whole dup docs, q64/q82 cut corpus-wide
  // dup SPANS; this entry removes lines frequent WITHIN their source).
  //
  // The synthetic corpus has no newlines and no chrome, so — the q104
  // eval-run discipline — the entry CONSTRUCTS the page layer
  // deterministically in both engines: each document becomes a line
  // list of [header chrome] ++ [8-token body windows] ++ [optional
  // promo (doc_id%17==0)] ++ [optional footer (doc_id%3!=0)], with the
  // chrome text derived purely from the source name (the moduli are
  // coprime to the generator's 20-source round-robin, so footer/promo
  // presence genuinely varies WITHIN each source). The policy then
  // has all three behaviors to get right: header at 100% in-source
  // frequency (strip), footer at ~67% (strip), promo at ~6% (keep),
  // body windows per their true census (random soup ⇒ kept).
  //
  // Boilerplate rule, integer-exact across engines: a line is chrome
  // iff it appears in ≥ half the source's documents, i.e.
  // 2·count_distinct_docs ≥ n_docs(source), n ≥ count via BIGINTs —
  // no double ratio to disagree in low bits. Sources below
  // `BoilerMinDocs` documents are exempt: with one or two pages there
  // is no frequency evidence, and the half rule would degenerate to
  // stripping every line of a single-document source.
  //
  // 100 TB shape: the ONLY corpus-wide exchange is the census groupBy
  // on (source, md5(line)) — ids and 32-char digests, zero text (the
  // lines relation projects md5 in the scan stage, audit-pinned). The
  // boiler set is semantically tiny (≤ ~2·lines-per-doc rows per
  // source, independent of corpus size — a line needs half the
  // source's docs to qualify, so a source contributes at most
  // 2·total_lines/n_docs of them) and broadcasts as per-source md5
  // sets; the strip itself is a stateless scan-stage array filter —
  // no doc-side shuffle at all before the demo ORDER BY.
  private[graft] final val BoilerW = 8 // tokens per constructed line
  private[graft] final val BoilerMinDocs = 3 // census evidence floor

  private def chromeHdr(src: Column): Column =
    concat(lit("nav "), src, lit(" menu home about contact"))
  private def chromeFtr(src: Column): Column =
    concat(lit("footer "), src, lit(" copyright terms privacy"))
  private def chromePromo(src: Column): Column =
    concat(lit("promo "), src, lit(" special offer today only"))

  private val emptyLines = "array<struct<line_idx:bigint,line:string>>"

  /** The constructed page-line array for one document — ONE spelling
    * consumed by both the census (exploded) and the strip (filtered in
    * place), so the detector and the rewriter can never see different
    * line sets. Body windows are non-overlapping `BoilerW`-token slices
    * (an empty doc is one empty line, matching the oracle's
    * `range(0, greatest(n,1), 8)`); chrome indices 0 / 999999 / 1000000
    * keep header-first, promo-then-footer order under the array concat.
    */
  private def pageLines(docId: Column, src: Column, ws: Column): Column = {
    val nBody = greatest(
      floor((size(ws) - lit(1)) / lit(BoilerW.toDouble)).cast("int"), lit(0))
    val body = transform(sequence(lit(0), nBody), i =>
      struct(
        (i + lit(1)).cast("long").as("line_idx"),
        array_join(slice(ws, i * lit(BoilerW) + lit(1), lit(BoilerW)), " ")
          .as("line")))
    val hdr = array(
      struct(lit(0L).as("line_idx"), chromeHdr(src).as("line")))
    val promo = when(docId % 17 === 0,
      array(struct(lit(999999L).as("line_idx"), chromePromo(src).as("line"))))
      .otherwise(array().cast(emptyLines))
    val ftr = when(docId % 3 =!= 0,
      array(struct(lit(1000000L).as("line_idx"), chromeFtr(src).as("line"))))
      .otherwise(array().cast(emptyLines))
    concat(hdr, body, promo, ftr)
  }

  /** Docs projected to (doc_id, source, ws) — the strip pipeline's
    * input. Null text coalesces to empty (the StreamingCurate null
    * defense): the corpus never carries one, but the streaming twin
    * ingests arbitrary rows, and a null would otherwise ripple
    * null-ish lines through the census and the kept-text fold. */
  private[graft] def pageDocs(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").cast("long").as("doc_id"), col("source"),
      regexp_extract_all(coalesce(col("text"), lit("")), lit("\\S+"),
        lit(0)).as("ws"))

  /** (source, doc_id, lmd5) line digests — the census's scan-stage
    * projection, ONE spelling shared by the full census (q114) and the
    * per-batch partial census (q115/q116 lifecycle). */
  private[graft] def lineDigests(pd: DataFrame): DataFrame =
    pd.select(col("source"), col("doc_id"),
        explode(pageLines(col("doc_id"), col("source"), col("ws"))).as("l"))
      .select(col("source"), col("doc_id"), md5(col("l.line")).as("lmd5"))

  /** The boilerplate verdict over (cnt, n_docs) columns — ONE spelling
    * for the direct census and the collapsed lifecycle census. */
  private def boilerThreshold: Column =
    col("cnt") * 2 >= col("n_docs") && col("n_docs") >= BoilerMinDocs

  /** In-source frequent-line census: (source, lmd5, cnt, n_docs) for
    * every line at or above the boilerplate threshold. */
  private[graft] def boilerCensus(pd: DataFrame): DataFrame = {
    val srcN = pd.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    lineDigests(pd)
      .groupBy(col("source"), col("lmd5"))
      .agg(countDistinct(col("doc_id")).as("cnt"))
      .join(broadcast(srcN), "source")
      .where(boilerThreshold)
  }

  /** The rewrite itself, given a per-row chrome-set column `bs`
    * (nullable array of line md5s) — ONE spelling shared by the batch
    * strip (bs arrives via the broadcast census join) and the
    * streaming twin (bs is a frozen map literal lookup), so the two
    * surfaces cannot diverge on what "strip" means. Pure scan-stage
    * array expressions, streaming-safe with zero state.
    */
  private[graft] def stripProjection(pd: DataFrame, bs: Column): DataFrame =
    keptProjection(
      pd.withColumn("bs", coalesce(bs, array().cast("array<string>"))),
      l => !array_contains(col("bs"), md5(l.getField("line"))))

  /** The page rewrite CORE shared by the chrome strip (q114 family —
    * keep = line md5 outside the chrome set) and the keep-first
    * paragraph dedup (q118 — keep = line_idx outside the doc's drop
    * set): rebuild each document's page array, filter it by `keep`,
    * and emit the q114-shape (n_lines, n_removed, kept_md5, kept_len)
    * row. ONE spelling so the two rewrite policies can never diverge
    * on the page model or the kept-text fold. */
  private[graft] def keptProjection(pd: DataFrame,
      keep: Column => Column): DataFrame = {
    val la = pageLines(col("doc_id"), col("source"), col("ws"))
    pd
      .withColumn("la", la)
      .withColumn("kept", filter(col("la"), keep))
      // kept_text lands in its OWN projection: the downstream md5 and
      // length each reference the computed column, and CollapseProject
      // keeps a non-cheap multi-referenced alias un-inlined — without
      // this, the whole interpreted HOF chain (filter→transform→
      // array_join over the page array) evaluated TWICE per row
      .withColumn("kept_text",
        array_join(transform(col("kept"), _.getField("line")), " "))
      .select(
        col("doc_id"), col("source"),
        size(col("la")).cast("long").as("n_lines"),
        (size(col("la")) - size(col("kept"))).cast("long").as("n_removed"),
        md5(col("kept_text")).as("kept_md5"),
        length(col("kept_text")).cast("long").as("kept_len"))
  }

  /** The full strip — separated from q114 so the spec can feed synthetic
    * corpora with controlled line frequencies (threshold boundary, the
    * all-lines-removed document, single-doc sources). */
  private[graft] def boilerStrip(docs: DataFrame): DataFrame = {
    val pd = pageDocs(docs)
    val boiler = boilerCensus(pd)
      .groupBy(col("source")).agg(collect_set(col("lmd5")).as("bset"))
    stripProjection(
      pd.join(broadcast(boiler), Seq("source"), "left"), col("bset"))
  }

  private def q114(s: SparkSession, d: String): DataFrame = {
    val out = boilerStrip(Tables.documents(s, d))
    // narrow-manifest cut before the demo sort (the q122 lesson): the
    // sampling pass otherwise re-runs the census + strip chain
    Scratch.materialize(out, "q114_out")
      .toDF(out.columns: _*)
      .orderBy(col("doc_id"))
  }

  /** The detected chrome itself, for auditability (which lines, how
    * frequent) — the q100_bands-style companion view of q114's state. */
  private def q114c(s: SparkSession, d: String): DataFrame =
    boilerCensus(pageDocs(Tables.documents(s, d)))
      .select(col("source"), col("lmd5"),
        col("cnt").cast("long").as("cnt"),
        col("n_docs").cast("long").as("n_docs"))
      .orderBy(col("source"), col("lmd5"))

  // ---- q115/q116: the INCREMENTAL lifecycle of the boilerplate census,
  // as [[Partials]]. The lex index collapses by per-key MIN, the
  // semantic index by per-cluster append; the census is SUM-mergeable —
  // per-batch distinct-doc counts and per-source doc counts ADD exactly,
  // PROVIDED promote batches partition the documents (a doc in two
  // batches would double-count; exactly-once promotion is the contract
  // StreamingPromote's doc gate enforces). Retraction drops the batch's
  // partition rows, and the summed census over the survivors IS the
  // census over the surviving documents — a re-crawled source's chrome
  // can be demoted without re-counting the corpus.

  /** One batch's census partials: `counts` (source, lmd5, cnt)
    * distinct-doc counts and `srcn` (source, n_docs). */
  private[graft] val CensusShape = Map(
    "counts" -> "source STRING, lmd5 STRING, cnt BIGINT, batch_id BIGINT",
    "srcn" -> "source STRING, n_docs BIGINT, batch_id BIGINT")

  private[graft] def censusPartials(docs: DataFrame, batchId: Long)
      : Partials = {
    val pd = pageDocs(docs)
    Partials.tagged(batchId,
      "counts" -> lineDigests(pd)
        .groupBy(col("source"), col("lmd5"))
        .agg(countDistinct(col("doc_id")).as("cnt")),
      "srcn" -> pd.groupBy(col("source")).agg(count(lit(1)).as("n_docs")))
  }

  /** SUM-collapse the surviving partials and threshold — the stored
    * state's census view, (source, lmd5, cnt, n_docs) rows exactly
    * like [[boilerCensus]] over the equivalent document set. */
  private[graft] def collapsedCensus(p: Partials): DataFrame = {
    val srcN = p("srcn").groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"))
    p("counts")
      .groupBy(col("source"), col("lmd5")).agg(sum(col("cnt")).as("cnt"))
      .join(broadcast(srcN), "source")
      .where(boilerThreshold)
  }

  /** Collapse to the per-source chrome sets — the strip/probe shape. */
  private[graft] def collapseBoiler(p: Partials): DataFrame =
    collapsedCensus(p)
      .groupBy(col("source")).agg(collect_set(col("lmd5")).as("bset"))

  /** Strip arriving documents against an index's chrome sets — the
    * probe side of the lifecycle (and the batch spelling of
    * StreamingBoiler's frozen-map strip). */
  private[graft] def stripAgainst(probeDocs: DataFrame,
      boiler: DataFrame): DataFrame =
    stripProjection(
      pageDocs(probeDocs).join(broadcast(boiler), Seq("source"), "left"),
      col("bset"))

  /** Census-index MERGE equivalence (q115): bootstrap the census over
    * the frozen batch (doc_id ≡ 0,1,2 mod 7), STORE it, promote the
    * delta (≡ 3,4) by appending its partial census, then strip the
    * arriving batch (≡ 5,6) against the collapsed chrome sets. The
    * split modulus is 7 — COPRIME to the generator's 20-source
    * round-robin, so every source spans index and probe batches (a
    * mod-10 split would give the probe docs sources the index never
    * saw and the strip nothing to do). The emitted relation is the
    * collapsed CENSUS, not a strip: on this corpus the thresholded
    * chrome SET is identical across nearby populations (header/footer
    * sit far from the half boundary), so a strip gate could not tell a
    * merge-dropping bug from the real merge — the census COUNTS can
    * (cnt of every chrome line = docs counted, which pins exactly
    * which batches contributed). The DuckDB oracle is the census
    * REBUILT over frozen∪delta — merged ≡ rebuilt, the delta-only-work
    * proof; strip-level lifecycle behavior is pinned by
    * BoilerplateSpec on a fixture whose chrome set DOES change.
    */
  private def q115(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val m = col("doc_id") % 7
    // the merge consumes stored INDEX STATE, provably not the frozen
    // batch's text
    val stored = censusPartials(docs.filter(m < 3), 0L).store("q115")
    censusRows(collapsedCensus(
      stored.union(censusPartials(docs.filter(m >= 3 && m < 5), 1L))))
  }

  /** The lifecycle entries' output shape over a collapsed census. */
  private def censusRows(census: DataFrame): DataFrame =
    census.select(col("source"), col("lmd5"),
        col("cnt").cast("long").as("cnt"),
        col("n_docs").cast("long").as("n_docs"))
      .orderBy(col("source"), col("lmd5"))

  /** Census-index RETRACTION equivalence (q116): promote batches 0/1/2
    * (doc_id ≡ 0,1 / 2,3 / 4 mod 7), store partitioned by batch_id,
    * retract batch 2 (the re-crawled source recalled after promote),
    * and emit the demoted collapsed census. Oracle = the census
    * REBUILT over batches 0∪1 only — demoted ≡ rebuilt-without, count
    * by count (a retraction-ignoring bug keeps batch 2's additions in
    * every cnt/n_docs and hash-fails; see q115's census-vs-strip
    * rationale).
    */
  private def q116(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val m = col("doc_id") % 7
    val stored = censusPartials(docs.filter(m < 2), 0L)
      .union(censusPartials(docs.filter(m >= 2 && m < 4), 1L))
      .union(censusPartials(docs.filter(m === 4), 2L))
      .store("q116")
    censusRows(collapsedCensus(stored.retract(2L)))
  }

  /** The constructed page-line CTEs alone (d + lines) — the SQL twin of
    * [[pageDocs]]+[[pageLines]], shared by the census stack (q114/q115/
    * q116 via [[q114LinesFor]]), the keep-first paragraph dedup (q118),
    * and — via the `rel` parameter — the line-containment corpus with
    * its constructed quote docs (q130), so every page-model consumer
    * reads ONE line set. */
  private def pageLinesSql: String = pageLinesSqlFor("documents")

  private def pageLinesSqlFor(rel: String): String =
    pageLinesSqlNamed(rel, "d", "lines")

  /** [[pageLinesSqlFor]] with caller-chosen CTE names — the line-grain
    * lifecycle twins (q131/q132) instantiate the page model over THREE
    * populations (frozen census, index corpus, probe corpus) in one
    * statement, which the fixed d/lines names cannot express. */
  private def pageLinesSqlNamed(rel: String, d: String,
      lines: String): String =
    s"""$d AS (
       |  SELECT doc_id, source, regexp_extract_all(text, '\\S+') AS ws
       |  FROM $rel),
       |$lines AS (
       |  SELECT doc_id, source, CAST(0 AS BIGINT) AS line_idx,
       |    'nav ' || source || ' menu home about contact' AS line FROM $d
       |  UNION ALL
       |  SELECT doc_id, source, CAST(1 + start // $BoilerW AS BIGINT),
       |    array_to_string(ws[start + 1 : least(start + $BoilerW, len(ws))],
       |      ' ')
       |  FROM (SELECT doc_id, source, ws,
       |          unnest(range(0, greatest(len(ws), 1), $BoilerW)) AS start
       |        FROM $d)
       |  UNION ALL
       |  SELECT doc_id, source, CAST(999999 AS BIGINT),
       |    'promo ' || source || ' special offer today only'
       |  FROM $d WHERE doc_id % 17 = 0
       |  UNION ALL
       |  SELECT doc_id, source, CAST(1000000 AS BIGINT),
       |    'footer ' || source || ' copyright terms privacy'
       |  FROM $d WHERE doc_id % 3 <> 0)""".stripMargin

  /** Shared oracle CTEs, parameterized by the census (index) population
    * — `idxPred` over plain `doc_id` restricts srcn/census rows, the
    * lifecycle entries' rebuilt-census twin. q114 passes TRUE. */
  private def q114LinesFor(idxPred: String): String =
    s"""$pageLinesSql,
       |srcn AS (SELECT source, COUNT(*) AS n_docs FROM d
       |         WHERE $idxPred GROUP BY source),
       |census AS (
       |  SELECT source, md5(line) AS lmd5, COUNT(DISTINCT doc_id) AS cnt
       |  FROM lines WHERE $idxPred GROUP BY 1, 2),
       |boiler AS (
       |  SELECT c.source, c.lmd5, c.cnt, s.n_docs
       |  FROM census c JOIN srcn s USING (source)
       |  WHERE 2 * c.cnt >= s.n_docs AND s.n_docs >= $BoilerMinDocs)"""
      .stripMargin

  /** The strip over `probePred` docs (on `l.doc_id`) against the
    * `idxPred` census — one spelling for q114/q115/q116's oracles. */
  private def stripSqlFor(idxPred: String, probePred: String): String =
    s"""WITH ${q114LinesFor(idxPred)},
       |marked AS (
       |  SELECT l.doc_id, l.source, l.line_idx, l.line,
       |    (b.lmd5 IS NOT NULL) AS is_b
       |  FROM lines l LEFT JOIN boiler b
       |    ON l.source = b.source AND md5(l.line) = b.lmd5
       |  WHERE $probePred)
       |SELECT doc_id, source,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  md5(COALESCE(string_agg(CASE WHEN NOT is_b THEN line END, ' '
       |    ORDER BY line_idx), '')) AS kept_md5,
       |  CAST(LENGTH(COALESCE(string_agg(CASE WHEN NOT is_b THEN line END,
       |    ' ' ORDER BY line_idx), '')) AS BIGINT) AS kept_len
       |FROM marked GROUP BY doc_id, source ORDER BY doc_id""".stripMargin

  private val q114Sql = stripSqlFor("TRUE", "TRUE")

  /** The census view over the `idxPred` population — q114c's select,
    * the lifecycle entries' rebuilt-census oracle. */
  private def censusSqlFor(idxPred: String): String =
    s"""WITH ${q114LinesFor(idxPred)}
       |SELECT source, lmd5, CAST(cnt AS BIGINT) AS cnt,
       |  CAST(n_docs AS BIGINT) AS n_docs
       |FROM boiler ORDER BY source, lmd5""".stripMargin

  private val q115Sql = censusSqlFor("doc_id % 7 < 5")

  private val q116Sql = censusSqlFor("doc_id % 7 < 4")

  private val q114cSql = censusSqlFor("TRUE")

  // ---- q117: PII span redaction (the Dolma/BigScience scrub pass —
  // replace emails / IPv4 addresses / phone numbers with typed masks
  // and report per-document redaction counts). The synthetic corpus
  // carries no PII, so — the q114/q104 eval-run discipline — the entry
  // CONSTRUCTS a deterministic contact tail in both engines: an email
  // for doc_id%3==0 (a SECOND one for %9==0, so a non-global replace
  // is observable), a phone for %7==1, a digit-prefixed NON-phone
  // serial for %13==5 (the `\b` trap: `9555-123-4567` must NOT match,
  // so dropping the word boundary is observable), and a dotted-quad
  // for %17==2. The redaction regexes themselves are the REAL ones
  // (shared Java/RE2 subset — no lookaround, no backrefs), and
  // PiiSpec exercises them on genuine PII fixtures; categories apply
  // in a fixed order (email → ip → phone), each counting on the text
  // the previous category already masked, so one span can never be
  // double-counted.
  //
  // 100 TB shape: pure scan-stage per-row regex work — no shuffle at
  // all before the demo ORDER BY (PlanAuditSpec pins ≤1 exchange).
  // explicit [A-Za-z…] classes, NOT (?i): Java's (?i) without
  // UNICODE_CASE folds ASCII only while DuckDB's RE2 (?i) Unicode-folds
  // (e.g. the Kelvin sign K ≡ k), a cross-engine count/mask divergence
  // the fuzz gate (which compares Spark against java.util.regex) cannot
  // see — spelling the case classes out makes both engines ASCII-exact
  private[graft] final val PiiEmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] final val PiiIpRe =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] final val PiiPhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** The constructed page (text + deterministic contact tail) — the
    * corpus-side input of the redactor; ONE concat order mirrored by
    * the oracle's CASE chain. Exposed for PiiSpec's streaming
    * convergence gate. */
  private[graft] def piiPage(docId: Column, src: Column,
      text: Column): Column = {
    val id = docId.cast("string")
    concat(text,
      when(docId % 3 === 0, concat(lit(" contact user"), id, lit("@"),
        src, lit(".example.com"))).otherwise(lit("")),
      when(docId % 9 === 0, concat(lit(" cc admin"), id, lit("@mail."),
        src, lit(".org"))).otherwise(lit("")),
      when(docId % 7 === 1, concat(lit(" call 555-"),
        lpad((docId % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((docId % 10000).cast("string"), 4, "0"), lit(" now")))
        .otherwise(lit("")),
      when(docId % 13 === 5, lit(" sn 9555-123-4567")).otherwise(lit("")),
      when(docId % 17 === 2, concat(lit(" from 10."),
        (docId % 256).cast("string"), lit("."),
        // parameter-derived (an expr() here would hardcode the
        // "doc_id" name, silently ignoring a renamed/derived id col);
        // shiftright(·,8) IS div-256 for the non-negative id domain
        (shiftright(docId.cast("long"), 8) % 256).cast("string"), lit("."),
        (docId % 250 + 1).cast("string"))).otherwise(lit("")))
  }

  /** The redaction core over a page column — (n_email, n_ip, n_phone,
    * red) via the fixed email → ip → phone cascade; each count is
    * taken on the previous stage's masked text. Pure stateless column
    * expressions: runs unchanged under Structured Streaming append
    * mode (PiiSpec pins exact batch convergence), so the null-page
    * coalesce is the streaming-ingest defense (the pageDocs
    * discipline) — the corpus never carries one, an arbitrary stream
    * row can. */
  private[graft] def piiRedact(pages: DataFrame): DataFrame =
    pages
      .withColumn("page", coalesce(col("page"), lit("")))
      // each category is GUARDED by a contains() byte-scan on a
      // character its regex cannot match without ('@' / '.' / '-') —
      // semantically a no-op, but the guard turns the common no-PII
      // row into one SIMD substring probe instead of a full regex
      // pass (measured 2.5× on the 30× corpus: the unanchored email
      // class starts a candidate match at every word character, so it
      // is the one regex whose cost scales with TEXT, not with
      // matches); each masked stage still lands in its OWN projection
      // (the q114 kept_text lesson: CollapseProject keeps non-cheap
      // multi-referenced aliases un-inlined instead of running the
      // chain twice per row)
      .withColumn("n_email",
        when(col("page").contains("@"),
          rxCount(col("page"), PiiEmailRe)).otherwise(lit(0)).cast("long"))
      .withColumn("t1",
        when(col("page").contains("@"),
          regexp_replace(col("page"), PiiEmailRe, "[EMAIL]"))
          .otherwise(col("page")))
      .withColumn("n_ip",
        when(col("t1").contains("."),
          rxCount(col("t1"), PiiIpRe)).otherwise(lit(0)).cast("long"))
      .withColumn("t2",
        when(col("t1").contains("."),
          regexp_replace(col("t1"), PiiIpRe, "[IP]")).otherwise(col("t1")))
      .withColumn("n_phone",
        when(col("t2").contains("-"),
          rxCount(col("t2"), PiiPhoneRe)).otherwise(lit(0)).cast("long"))
      .withColumn("red",
        when(col("t2").contains("-"),
          regexp_replace(col("t2"), PiiPhoneRe, "[PHONE]"))
          .otherwise(col("t2")))

  /** The contact-tail SQL expression (single line, safe to embed in
    * stripMargin blocks) — ONE spelling shared by q117's and q122's
    * oracles, mirroring [[piiPage]]'s concat order. */
  private def piiTailSql: String = Seq(
    "CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||" +
      " CAST(doc_id AS VARCHAR) || '@' || source || '.example.com'" +
      " ELSE '' END",
    "CASE WHEN doc_id % 9 = 0 THEN ' cc admin' ||" +
      " CAST(doc_id AS VARCHAR) || '@mail.' || source || '.org'" +
      " ELSE '' END",
    "CASE WHEN doc_id % 7 = 1 THEN ' call 555-' ||" +
      " lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||" +
      " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'" +
      " ELSE '' END",
    "CASE WHEN doc_id % 13 = 5 THEN ' sn 9555-123-4567' ELSE '' END",
    "CASE WHEN doc_id % 17 = 2 THEN ' from 10.' ||" +
      " CAST(doc_id % 256 AS VARCHAR) || '.' ||" +
      " CAST((doc_id // 256) % 256 AS VARCHAR) || '.' ||" +
      " CAST(doc_id % 250 + 1 AS VARCHAR) ELSE '' END"
  ).mkString(" || ")

  private def q117(s: SparkSession, d: String): DataFrame = {
    val report = piiRedact(Tables.documents(s, d)
      .select(col("doc_id"),
        piiPage(col("doc_id"), col("source"), col("text")).as("page")))
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        md5(col("red")).as("red_md5"),
        length(col("red")).cast("long").as("red_len"))
    // narrow-manifest cut before the demo sort (the q122 lesson): the
    // range partitioner's sampling pass would otherwise run the whole
    // redaction chain a second time
    Scratch.materialize(report, "q117_report")
      .toDF(report.columns: _*)
      .orderBy(col("doc_id"))
  }

  private val q117Sql =
    s"""WITH d AS (
       |  SELECT doc_id, text || $piiTailSql AS page
       |  FROM documents),
       |r1 AS (SELECT doc_id,
       |  CASE WHEN contains(page, '@')
       |    THEN CAST(${rxCountSql("page", PiiEmailRe)} AS BIGINT)
       |    ELSE 0 END AS n_email,
       |  CASE WHEN contains(page, '@')
       |    THEN regexp_replace(page, '$PiiEmailRe', '[EMAIL]', 'g')
       |    ELSE page END AS t1 FROM d),
       |r2 AS (SELECT doc_id, n_email,
       |  CASE WHEN contains(t1, '.')
       |    THEN CAST(${rxCountSql("t1", PiiIpRe)} AS BIGINT)
       |    ELSE 0 END AS n_ip,
       |  CASE WHEN contains(t1, '.')
       |    THEN regexp_replace(t1, '$PiiIpRe', '[IP]', 'g')
       |    ELSE t1 END AS t2 FROM r1),
       |r3 AS (SELECT doc_id, n_email, n_ip,
       |  CASE WHEN contains(t2, '-')
       |    THEN CAST(${rxCountSql("t2", PiiPhoneRe)} AS BIGINT)
       |    ELSE 0 END AS n_phone,
       |  CASE WHEN contains(t2, '-')
       |    THEN regexp_replace(t2, '$PiiPhoneRe', '[PHONE]', 'g')
       |    ELSE t2 END AS red FROM r2)
       |SELECT doc_id, n_email, n_ip, n_phone, md5(red) AS red_md5,
       |  CAST(length(red) AS BIGINT) AS red_len
       |FROM r3 ORDER BY doc_id""".stripMargin

  // ---- q118: keep-first PARAGRAPH dedup (the CCNet policy this
  // catalog lacked: an exact-duplicate line/paragraph is kept at its
  // FIRST corpus occurrence — min (doc_id, line_idx) — and dropped
  // everywhere else, then documents are reassembled from their
  // surviving lines). Complements q114: the census strip removes
  // lines frequent WITHIN their source (template chrome, wherever
  // they appear); keep-first dedup removes REPEATS anywhere in the
  // corpus but always preserves one copy. Both run over the SAME
  // constructed page layer ([[pageLines]] / [[pageLinesSql]]) and the
  // same rewrite core ([[keptProjection]]), so the two policies can
  // never diverge on the page model.
  //
  // 100 TB shape: the dedup decision is digest-only — one groupBy on
  // md5(line) (32-char digests + two BIGINT ids) picks winners, one
  // digest-keyed join marks losers, one id-keyed aggregation builds
  // per-doc drop sets. The single corpus-text exchange in the whole
  // plan is the final doc_id-partitioned join of the page relation
  // against its drop sets — a linear, skew-free hash partition of the
  // corpus (doc ids are unique), which is the irreducible cost of
  // reassembling rewritten documents; PlanAuditSpec pins exactly-one
  // text-bearing exchange and digest-only widths everywhere else.
  /** (doc_id, line_idx, lmd5) — the dedup spine: page-line digests
    * WITH their position, so the keep-first winner is recoverable. */
  private[graft] def lineIdxDigests(pd: DataFrame): DataFrame =
    pd.select(col("doc_id"), col("source"),
        explode(pageLines(col("doc_id"), col("source"), col("ws"))).as("l"))
      .select(col("source"), col("doc_id"), col("l.line_idx").as("line_idx"),
        md5(col("l.line")).as("lmd5"))

  /** The keep-first ELECTION over a `(source, doc_id, line_idx, lmd5)`
    * digest spine — winners by `min(struct(doc_id, line_idx))` per
    * digest, losers aggregated into per-doc drop-index sets. ONE
    * spelling shared by q118 and q122 (whose election differs only in
    * the chrome anti-join upstream), UN-materialized — exposed so
    * PlanAuditSpec can audit the election's exchanges directly (q118's
    * and q122's materialize cut truncates lineage, so auditing their
    * output plans never sees these exchanges at all).
    */
  private[graft] def keepFirstDrops(li: DataFrame): DataFrame = {
    val winners = li.groupBy(col("lmd5"))
      .agg(min(struct(col("doc_id"), col("line_idx"))).as("w"))
    li.join(winners, "lmd5")
      .where(col("doc_id") =!= col("w.doc_id") ||
        col("line_idx") =!= col("w.line_idx"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("line_idx")).as("didx"))
  }

  private[graft] def paragraphDedup(docs: DataFrame): DataFrame = {
    val pd = pageDocs(docs)
    // MATERIALIZED: the digest pipeline (explode → groupBy → self-join
    // → per-doc agg) is the expensive 80% of the plan and feeds a
    // relation bounded by DUPLICATE occurrences (≪ corpus). Without
    // the cut, Catalyst re-executes the whole pipeline for the final
    // ORDER BY's range-sampling pass (and cannot reuse the digest
    // spine between the winner and loser subtrees — their exchanges
    // differ), measured 1.7-2× at 30× with heavy-tailed variance; with
    // it, the pipeline runs exactly once and the sampling pass
    // re-reads only the bounded drop index + the scan-stage rewrite.
    val drops = Scratch.materialize(
      keepFirstDrops(lineIdxDigests(pd)), "q118_drops")
      // fresh attribute ids: the checkpointed frame keeps pd's
      // doc_id exprId, and joining it back against pd would be a
      // conflicting-reference self-join
      .toDF("doc_id", "didx")
    keptProjection(
      pd.join(drops, Seq("doc_id"), "left")
        .withColumn("didx",
          coalesce(col("didx"), array().cast("array<bigint>"))),
      l => !array_contains(col("didx"), l.getField("line_idx")))
  }

  private def q118(s: SparkSession, d: String): DataFrame = {
    val out = paragraphDedup(Tables.documents(s, d))
    // narrow-manifest cut before the demo sort (the q122 lesson)
    Scratch.materialize(out, "q118_out")
      .toDF(out.columns: _*)
      .orderBy(col("doc_id"))
  }

  private val q118Sql =
    s"""WITH $pageLinesSql,
       |ranked AS (
       |  SELECT doc_id, source, line_idx, line,
       |    ROW_NUMBER() OVER (PARTITION BY md5(line)
       |      ORDER BY doc_id, line_idx) AS rn
       |  FROM lines)
       |SELECT doc_id, source,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_removed,
       |  md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, ' '
       |    ORDER BY line_idx), '')) AS kept_md5,
       |  CAST(LENGTH(COALESCE(string_agg(CASE WHEN rn = 1 THEN line END,
       |    ' ' ORDER BY line_idx), '')) AS BIGINT) AS kept_len
       |FROM ranked GROUP BY doc_id, source ORDER BY doc_id""".stripMargin

  // ---- q122: the composed CLEANING pipeline (the q98 composition
  // discipline applied to this session's operators): chrome strip
  // (q114's census policy) → keep-first paragraph dedup OVER THE
  // SURVIVORS (q118's policy — a stripped chrome occurrence never
  // competes as a keep-first winner) → PII redaction of the
  // reassembled text (q117's cascade, over the page with the
  // constructed contact tail so the scrub stage is observable on this
  // corpus). One relation carries per-document counts from every
  // stage (lines, chrome removed, duplicates removed, three PII
  // categories) plus the final text digest — the manifest row a crawl
  // cleaning run actually emits. The composition is the point: the
  // stages share ONE page model and rewrite core, so this entry
  // hash-fails if any pair of them stops composing.
  //
  // 100 TB shape: the census broadcasts (q114), the dedup decision is
  // digest-only with the bounded drop index materialized (q118), the
  // redaction is scan-stage (q117) — composing adds NO new exchange
  // class; the one corpus-text exchange remains the q118 reassembly
  // partition.
  private[graft] def cleanPipeline(docs: DataFrame): DataFrame = {
    val manifest = cleanManifest(docs)
    // materialize the NARROW manifest before the demo sort: the range
    // partitioner's sampling pass would otherwise re-execute the whole
    // composed pipeline a second time (measured ~2× at 100×)
    Scratch.materialize(manifest, "q122_manifest")
      .toDF(manifest.columns: _*)
      .orderBy(col("doc_id"))
  }

  /** The un-materialized, un-sorted manifest plan — exposed so
    * PlanAuditSpec can pin the composition's exchange shape (the
    * materialization cut hides it from the entry's executed plan). */
  private[graft] def cleanManifest(docs: DataFrame): DataFrame = {
    val pd = pageDocs(docs)
    // ONE materialized digest scan feeds the census AND the election
    // (q130's shared line scan applied to the composition: both are
    // digest-only consumers of the exploded page, and separate
    // lineDigests/lineIdxDigests plans would each re-run the
    // corpus-scale pageLines HOF chain; the rewrite leg below still
    // needs the page ARRAYS and keeps its own scan — two corpus scans,
    // not three)
    val lid = Scratch.materialize(lineIdxDigests(pd), "q122_lid")
      .toDF("source", "doc_id", "line_idx", "lmd5")
    // materialized: the chrome set is semantically tiny (q114's bound)
    // and feeds BOTH the election and the rewrite scan — without the
    // cut the census would compute twice
    val boiler = Scratch.materialize(
      boilerCensusOfLines(
        lid.select(col("source"), col("doc_id"), col("lmd5")))
        .groupBy(col("source")).agg(collect_set(col("lmd5")).as("bset")),
      "q122_boiler").toDF("source", "bset")
    // keep-first election over surviving lines only — via DIGESTS and
    // a broadcast anti-join against the chrome pairs (the election
    // never needs the rewritten page arrays; rebuilding them here
    // would run the HOF rewrite chain twice over the corpus)
    val chromePairs = broadcast(
      boiler.select(col("source"), explode(col("bset")).as("lmd5")))
    val li = lid.join(chromePairs, Seq("source", "lmd5"), "left_anti")
    val drops = Scratch.materialize(keepFirstDrops(li), "q122_drops")
      .toDF("doc_id", "didx") // fresh ids (the q118 self-join lesson)
    val cleaned = pd.join(drops, Seq("doc_id"), "left")
      .join(broadcast(boiler), Seq("source"), "left")
      .withColumn("bs", coalesce(col("bset"), array().cast("array<string>")))
      .withColumn("didx",
        coalesce(col("didx"), array().cast("array<bigint>")))
      .withColumn("la", pageLines(col("doc_id"), col("source"), col("ws")))
      .withColumn("surv", filter(col("la"), l =>
        !array_contains(col("bs"), md5(l.getField("line")))))
      .withColumn("kept", filter(col("surv"), l =>
        !array_contains(col("didx"), l.getField("line_idx"))))
      // its own projection (the kept_text discipline): clean0 feeds
      // the tail concat AND the stage counts
      .withColumn("clean0",
        array_join(transform(col("kept"), _.getField("line")), " "))
    piiRedact(cleaned.withColumn("page",
        piiPage(col("doc_id"), col("source"), col("clean0"))))
      .select(col("doc_id"), col("source"),
        size(col("la")).cast("long").as("n_lines"),
        (size(col("la")) - size(col("surv"))).cast("long").as("n_chrome"),
        (size(col("surv")) - size(col("kept"))).cast("long").as("n_dups"),
        col("n_email"), col("n_ip"), col("n_phone"),
        md5(col("red")).as("clean_md5"),
        length(col("red")).cast("long").as("clean_len"))
  }

  private def q122(s: SparkSession, d: String): DataFrame =
    cleanPipeline(Tables.documents(s, d))

  private val q122Sql = {
    val tail = piiTailSql
    s"""WITH ${q114LinesFor("TRUE")},
       |marked AS (
       |  SELECT l.doc_id, l.source, l.line_idx, l.line,
       |    (b.lmd5 IS NOT NULL) AS is_b
       |  FROM lines l LEFT JOIN boiler b
       |    ON l.source = b.source AND md5(l.line) = b.lmd5),
       |ranked AS (
       |  SELECT doc_id, source, line_idx, line, is_b,
       |    CASE WHEN is_b THEN NULL ELSE
       |      ROW_NUMBER() OVER (PARTITION BY md5(line), is_b
       |        ORDER BY doc_id, line_idx) END AS rn
       |  FROM marked),
       |perdoc AS (
       |  SELECT doc_id, source,
       |    CAST(COUNT(*) AS BIGINT) AS n_lines,
       |    CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_chrome,
       |    CAST(SUM(CASE WHEN NOT is_b AND rn > 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_dups,
       |    COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, ' '
       |      ORDER BY line_idx), '') AS clean0
       |  FROM ranked GROUP BY doc_id, source),
       |paged AS (
       |  SELECT doc_id, source, n_lines, n_chrome, n_dups,
       |    clean0 || $tail AS page
       |  FROM perdoc),
       |r1 AS (SELECT doc_id, source, n_lines, n_chrome, n_dups,
       |  CASE WHEN contains(page, '@')
       |    THEN CAST(${rxCountSql("page", PiiEmailRe)} AS BIGINT)
       |    ELSE 0 END AS n_email,
       |  CASE WHEN contains(page, '@')
       |    THEN regexp_replace(page, '$PiiEmailRe', '[EMAIL]', 'g')
       |    ELSE page END AS t1 FROM paged),
       |r2 AS (SELECT r1.*  EXCLUDE (t1),
       |  CASE WHEN contains(t1, '.')
       |    THEN CAST(${rxCountSql("t1", PiiIpRe)} AS BIGINT)
       |    ELSE 0 END AS n_ip,
       |  CASE WHEN contains(t1, '.')
       |    THEN regexp_replace(t1, '$PiiIpRe', '[IP]', 'g')
       |    ELSE t1 END AS t2 FROM r1),
       |r3 AS (SELECT r2.* EXCLUDE (t2),
       |  CASE WHEN contains(t2, '-')
       |    THEN CAST(${rxCountSql("t2", PiiPhoneRe)} AS BIGINT)
       |    ELSE 0 END AS n_phone,
       |  CASE WHEN contains(t2, '-')
       |    THEN regexp_replace(t2, '$PiiPhoneRe', '[PHONE]', 'g')
       |    ELSE t2 END AS red FROM r2)
       |SELECT doc_id, source, n_lines, n_chrome, n_dups,
       |  n_email, n_ip, n_phone, md5(red) AS clean_md5,
       |  CAST(length(red) AS BIGINT) AS clean_len
       |FROM r3 ORDER BY doc_id""".stripMargin
  }

  // ---- q119: HARD-NEGATIVE mining for retrieval training (the
  // DPR/RocketQA recipe): for every eval/query document, rank the
  // training corpus by BM25 against the query's term set, EXCLUDE
  // documents that share an exact 8-gram with the query (those are
  // contaminated — selecting them as "negatives" would teach the
  // model to reject true matches), and emit the top-5 survivors:
  // lexically close but provably-not-leaked, the negatives a
  // contrastive retriever trains on. Eval split = q54/q106's
  // doc_id%10==3 (the one benchmark-shard definition across the
  // decontamination family); BM25 stats (N, df, dl, total tokens) are
  // computed over the TRAIN side only, q47's exact parity discipline
  // (integer idf, exact decimal constants, per-term contributions
  // added in FIXED textual order over the literal 8-term query
  // vocabulary, round 4).
  //
  // 100 TB shape: corpus side is q47's plan (explode → per-doc pivot,
  // one narrow shuffle of ids+doubles); the eval side (per-query term
  // flags and the leak-pair set) is benchmark-sized and BROADCASTS —
  // the pair scorer is a broadcast nested loop, linear in the corpus;
  // the final per-query top-k is one window over (eval_id, doc_id,
  // score) ids. Corpus text never shuffles (PlanAuditSpec).
  private[graft] val HnTerms =
    Seq("hash", "join", "merge", "scan", "sort", "filter", "group",
      "window")
  private[graft] final val HnK = 5

  private def q119(s: SparkSession, d: String): DataFrame =
    hardNegatives(Tables.documents(s, d))

  /** The mining core over any (doc_id, text) corpus — exposed for
    * HardNegativeSpec's constructed fixtures (leaked-doc exclusion,
    * rank order, boundary cases) which the corpus hash gate cannot
    * stage. */
  private[graft] def hardNegatives(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = docs.filter(col("doc_id") % 10 === 3)
    val tr = docs.filter(col("doc_id") % 10 =!= 3)
    // Eval-side size GUARD: everything derived from `ev`
    // below (per-query term flags, the leaked-pair set, the eval gram
    // broadcast feeding it) is driver/broadcast-resident, and the pair
    // scorer is a DELIBERATE broadcast nested loop — |corpus|×|eval| by
    // definition. That is the right plan for a real benchmark shard
    // (fixed, megabytes), but THIS fixture's shard is doc_id%10==3,
    // i.e. corpus-proportional — so above a bound the premise is false
    // and the correct behavior is a loud refusal naming the fallback
    // (q80's Bloom-summarize + exact-confirm for the leak set; a
    // shuffled scorer for the flags), not a driver OOM mid-broadcast.
    // The count is one narrow pushed-down scan of the id column.
    val maxEvalDocs = docs.sparkSession.conf
      .getOption("graft.hn.maxEvalDocs").map(_.toLong).getOrElse(2000000L)
    val nEval = Ledger.leg("evcount")(ev.count())
    require(nEval <= maxEvalDocs,
      s"hard-negative mining premises a benchmark-sized eval shard " +
        s"($nEval docs > graft.hn.maxEvalDocs=$maxEvalDocs): the " +
        "eval-side term flags and leak-pair set broadcast, and the " +
        "scorer is a broadcast nested loop. For an eval side this " +
        "large, summarize the leak grams with the q80 Bloom pattern " +
        "and shuffle the scorer instead of raising the bound.")
    // ONE corpus word scan (guide §2.3/§2.4): the
    // words explode previously fed FOUR un-shared consumers (dl twice —
    // corpus agg + scored join — and tf twice — df agg + scored join),
    // so the full train-side regexp explode executed 4× per run (the
    // before-plan shows the duplicated regexp_extract_all subtrees).
    // dl and the 8 per-term tfs are ONE conditional aggregation over
    // one explode, materialized; n_docs/tot_tokens/df collapse to one
    // broadcast scalar row derived from it. Values are bit-identical:
    // tf_t = COUNT of term rows (as long, like the old count), df_t =
    // docs with tf_t ≥ 1, docs with zero [a-z] tokens are absent from
    // the aggregation exactly as they produced no explode rows before.
    val wstats = Scratch.materialize(
      tr.select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"),
            lit(0))).as("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("dl"),
          HnTerms.map(t =>
            sum(when(col("w") === t, lit(1L)).otherwise(lit(0L)))
              .as(s"tf_$t")): _*),
      "q119_ws")
    val globAggs = sum(col("dl")).as("tot_tokens") +:
      HnTerms.map(t =>
        sum(when(col(s"tf_$t") > 0, lit(1L)).otherwise(lit(0L)))
          .as(s"df_$t"))
    val glob = broadcast(wstats.agg(
      count(lit(1)).as("n_docs"), globAggs: _*))
    // s_t spelled with the EXACT pre-rewrite expression tree (long
    // subtraction/multiply, then ×2.2 into double; the dl·n_docs cast
    // order) so every double rounds identically; tf_t = 0 ⇒ null, the
    // pivot's missing-term semantics. The where() reproduces the old
    // perDoc membership (docs with ≥ 1 query term) so the scorer's
    // cross join sees the same row set.
    val perDoc = wstats
      .where(HnTerms.map(t => col(s"tf_$t") > 0).reduce(_ || _))
      .crossJoin(glob)
      .select(col("doc_id") +: HnTerms.map(t =>
        when(col(s"tf_$t") > 0,
          (col("n_docs") - col(s"df_$t")) * col(s"tf_$t") * lit(2.2) /
            (col(s"tf_$t") + lit(0.3) + lit(0.9) *
              ((col("dl") * col("n_docs")).cast("double") /
                col("tot_tokens").cast("double")))).as(s"s_$t")): _*)
    val evFlags = ev.select(col("doc_id").as("eval_id"),
        explode(array_distinct(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0)))).as("w"))
      .filter(col("w").isin(HnTerms: _*))
      .groupBy(col("eval_id")).pivot("w", HnTerms).agg(min(lit(1)))
      .select(col("eval_id") +: HnTerms.map(t => col(t).as(s"q_$t")): _*)
    // eval grams BROADCAST (q54's discipline: the benchmark shard is
    // megabytes, the corpus side streams past it)
    val evGrams = Dedup.ngramEntries(ev, Dedup.DecontN)
      .select(col("doc_id").as("eval_id"), col("s"))
    val leak = Dedup.ngramEntries(tr, Dedup.DecontN)
      .select(col("s"), col("doc_id"))
      .join(broadcast(evGrams), "s")
      .select(col("eval_id"), col("doc_id")).distinct()
    val score = round(HnTerms.map(t =>
      when(col(s"q_$t").isNotNull, coalesce(col(s"s_$t"), lit(0.0)))
        .otherwise(lit(0.0))).reduce(_ + _), 4)
    val win = Window.partitionBy(col("eval_id"))
      .orderBy(col("score").desc, col("doc_id"))
    perDoc.crossJoin(broadcast(evFlags))
      .select(col("eval_id"), col("doc_id"), score.as("score"))
      .where(col("score") > 0)
      .join(broadcast(leak), Seq("eval_id", "doc_id"), "left_anti")
      .withColumn("hn_rank", row_number().over(win).cast("int"))
      .where(col("hn_rank") <= HnK)
      .select(col("eval_id"), col("hn_rank"), col("doc_id"), col("score"))
      .orderBy(col("eval_id"), col("hn_rank"))
  }

  // lazy: cross-module (Dedup.ngramsSql) — the q75Sql init-cycle
  // discipline
  private lazy val q119Sql = {
    val termsIn = HnTerms.map(t => s"'$t'").mkString(", ")
    val pv = HnTerms.map(t =>
      s"MAX(CASE WHEN w = '$t' THEN s END) AS s_$t").mkString(",\n    ")
    val qv = HnTerms.map(t =>
      s"MAX(CASE WHEN w = '$t' THEN 1 END) AS q_$t").mkString(",\n    ")
    val fixedSum = HnTerms.map(t =>
      s"CASE WHEN q_$t IS NOT NULL THEN COALESCE(s_$t, CAST(0 AS DOUBLE))" +
        s" ELSE CAST(0 AS DOUBLE) END").mkString(" + ")
    val grams = Dedup.ngramsSql(Dedup.DecontN)
    s"""WITH tr AS (SELECT * FROM documents WHERE doc_id % 10 <> 3),
       |ev AS (SELECT * FROM documents WHERE doc_id % 10 = 3),
       |words AS (SELECT doc_id,
       |  unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM tr),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY 1),
       |corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_tokens FROM dl),
       |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words
       |       WHERE w IN ($termsIn) GROUP BY 1, 2),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT doc_id, w,
       |    (corpus.n_docs - df.df) * tf.tf * CAST(2.2 AS DOUBLE) /
       |      (tf.tf + CAST(0.3 AS DOUBLE) + CAST(0.9 AS DOUBLE) *
       |        (CAST(dl.dl * corpus.n_docs AS DOUBLE) /
       |          CAST(corpus.tot_tokens AS DOUBLE))) AS s
       |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id)
       |  CROSS JOIN corpus),
       |perdoc AS (SELECT doc_id, $pv FROM scored GROUP BY doc_id),
       |evflag AS (
       |  SELECT eval_id, $qv
       |  FROM (SELECT DISTINCT doc_id AS eval_id, w
       |        FROM (SELECT doc_id,
       |          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |          FROM ev)
       |        WHERE w IN ($termsIn))
       |  GROUP BY eval_id),
       |evg AS (SELECT doc_id AS eval_id, unnest($grams) AS s
       |        FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |              FROM ev)),
       |trg AS (SELECT doc_id, unnest($grams) AS s
       |        FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |              FROM tr)),
       |leak AS (SELECT DISTINCT eval_id, doc_id FROM evg JOIN trg
       |         USING (s)),
       |pairs AS (
       |  SELECT e.eval_id, p.doc_id, round($fixedSum, 4) AS score
       |  FROM evflag e CROSS JOIN perdoc p),
       |cand AS (
       |  SELECT * FROM pairs
       |  WHERE score > 0 AND NOT EXISTS (
       |    SELECT 1 FROM leak l
       |    WHERE l.eval_id = pairs.eval_id AND l.doc_id = pairs.doc_id)),
       |rk AS (SELECT eval_id, doc_id, score,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY eval_id
       |    ORDER BY score DESC, doc_id) AS INT) AS hn_rank
       |  FROM cand)
       |SELECT eval_id, hn_rank, doc_id, score FROM rk WHERE hn_rank <= $HnK
       |ORDER BY eval_id, hn_rank""".stripMargin
  }

  // ---- q120: tokenizer FERTILITY report (the multilingual-tokenizer
  // evaluation a pipeline runs before committing to a vocabulary):
  // encode the corpus with the q66-trained BPE and report, per
  // language, BPE tokens per word and characters covered per BPE
  // token. A tokenizer that over-fragments one language (high
  // bpe_per_word / low chars_per_tok) starves it of effective context
  // — this is the table that decision reads. Same trained-model reuse
  // as q71 (ModelCache key "bpe": one training per session feeds
  // q66/q71/q75/q120).
  //
  // 100 TB shape: q71's — the encoder runs over the VOCABULARY (a
  // bounded table), the corpus-scale pass is explode → broadcast
  // word→count join → per-lang partial agg; the output is
  // languages-sized. Oracle: the unrolled q66 CTE stack's v16 layer
  // IS each word's encoding; the fertility aggregation rides on top.
  private def q120(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vocab = Scratch.materialize(bpeVocab(s, d), "q120_vocab")
    val rank = ModelCache.getOrCompute("bpe", d)(bpeRank(vocab))
    val wordToks = vocab.as[(String, Long)]
      .map { case (w, _) => (w, bpeEncode(w, rank).length.toLong) }
      .toDF("w", "n_bpe")
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"),
          lit(0))).as("w"))
      .join(broadcast(wordToks), "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_bpe")).as("n_bpe_toks"))
    val chars = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    chars.join(toks, "lang")
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_toks"),
        round(col("n_bpe_toks").cast("double") / col("n_words"), 4)
          .as("bpe_per_word"),
        round(col("sum_chars").cast("double") / col("n_bpe_toks"), 4)
          .as("chars_per_tok"))
      .orderBy(col("lang"))
  }

  private val q120Sql =
    bpeOracleCtes + s""",
       |enc AS (SELECT w,
       |  len(list_filter(string_split(syms, ',,'), x -> x <> '')) AS n_bpe
       |  FROM v$BpeMerges),
       |docw AS (
       |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |  FROM documents),
       |toks AS (SELECT lang, COUNT(*) AS n_words,
       |         CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_toks
       |         FROM docw JOIN enc USING (w) GROUP BY lang),
       |chars AS (SELECT lang, COUNT(*) AS n_docs,
       |          CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |          FROM documents GROUP BY lang)
       |SELECT lang, n_docs, n_words, n_bpe_toks,
       |  round(CAST(n_bpe_toks AS DOUBLE) / n_words, 4) AS bpe_per_word,
       |  round(CAST(sum_chars AS DOUBLE) / n_bpe_toks, 4) AS chars_per_tok
       |FROM chars JOIN toks USING (lang) ORDER BY lang""".stripMargin

  // ---- q126: the C4/FineWeb RULE-FILTER battery (Raffel et al. 2020
  // §2.2; the doc-level heuristics every web-crawl pipeline runs before
  // any model-based scoring): terminal punctuation, no code/template
  // residue ('{', "javascript"), no placeholder text ("lorem ipsum"),
  // no policy boilerplate ("cookie policy"), a minimum length. The
  // corpus is punctuation-free word soup, so — the q114/q117
  // construction discipline — the observable artifacts are CONSTRUCTED
  // deterministically in both engines at coprime doc_id moduli: a
  // terminal '.' (%2), a "javascript" token (%13==6), " lorem ipsum "
  // (%23==4), a '{' (%11==7), " cookie policy" (%19==3); the length
  // rule reads the natural 8–100-word variance. Every rule's flag is
  // emitted alongside the composed verdict (the q79 reasons
  // discipline: a pipeline owner needs WHY, not just keep/drop).
  //
  // 100 TB shape: pure scan-stage column expressions — contains() byte
  // scans and one endswith, no regex, no shuffle before the demo sort.
  private[graft] final val C4MinWords = 50

  /** The constructed page: text + deterministic rule triggers. */
  private[graft] def c4Page(docId: Column, text: Column): Column =
    concat(text,
      when(docId % 13 === 6, lit(" javascript required"))
        .otherwise(lit("")),
      when(docId % 23 === 4, lit(" lorem ipsum dolor")).otherwise(lit("")),
      when(docId % 11 === 7, lit(" template { block }")).otherwise(lit("")),
      when(docId % 19 === 3, lit(" see our cookie policy"))
        .otherwise(lit("")),
      when(docId % 2 === 0, lit(".")).otherwise(lit("")))

  /** The battery over a page column — ONE spelling for the entry and
    * C4FilterSpec's constructed fixtures. */
  private[graft] def c4Flags(pages: DataFrame): DataFrame =
    pages
      .withColumn("page", coalesce(col("page"), lit("")))
      .withColumn("r_terminal", col("page").endsWith("."))
      .withColumn("r_words",
        size(regexp_extract_all(col("page"), lit("\\S+"), lit(0)))
          >= C4MinWords)
      .withColumn("r_js", !col("page").contains("javascript"))
      .withColumn("r_lorem", !col("page").contains("lorem ipsum"))
      .withColumn("r_brace", !col("page").contains("{"))
      .withColumn("r_policy", !col("page").contains("cookie policy"))
      .withColumn("keep",
        col("r_terminal") && col("r_words") && col("r_js") &&
          col("r_lorem") && col("r_brace") && col("r_policy"))

  private def q126(s: SparkSession, d: String): DataFrame =
    c4Flags(Tables.documents(s, d)
      .select(col("doc_id"),
        c4Page(col("doc_id"), col("text")).as("page")))
      .select(col("doc_id"), col("r_terminal"), col("r_words"),
        col("r_js"), col("r_lorem"), col("r_brace"), col("r_policy"),
        col("keep"))
      .orderBy(col("doc_id"))

  // coalesce wraps the WHOLE composed page: Spark's concat(null,
  // markers) is null (then c4Flags coalesces to ''), so a null-text
  // row must lose its markers in the oracle too — coalescing text
  // BEFORE the concat would keep them and diverge on exactly that row
  private val q126Sql =
    s"""WITH p AS (
       |  SELECT doc_id, coalesce(text
       |    || CASE WHEN doc_id % 13 = 6 THEN ' javascript required'
       |            ELSE '' END
       |    || CASE WHEN doc_id % 23 = 4 THEN ' lorem ipsum dolor'
       |            ELSE '' END
       |    || CASE WHEN doc_id % 11 = 7 THEN ' template { block }'
       |            ELSE '' END
       |    || CASE WHEN doc_id % 19 = 3 THEN ' see our cookie policy'
       |            ELSE '' END
       |    || CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END, '') AS page
       |  FROM documents)
       |SELECT doc_id,
       |  ends_with(page, '.') AS r_terminal,
       |  len(regexp_extract_all(page, '\\S+')) >= $C4MinWords AS r_words,
       |  NOT contains(page, 'javascript') AS r_js,
       |  NOT contains(page, 'lorem ipsum') AS r_lorem,
       |  NOT contains(page, '{') AS r_brace,
       |  NOT contains(page, 'cookie policy') AS r_policy,
       |  ends_with(page, '.')
       |    AND len(regexp_extract_all(page, '\\S+')) >= $C4MinWords
       |    AND NOT contains(page, 'javascript')
       |    AND NOT contains(page, 'lorem ipsum')
       |    AND NOT contains(page, '{')
       |    AND NOT contains(page, 'cookie policy') AS keep
       |FROM p ORDER BY doc_id""".stripMargin

  // ---- q130: PARAGRAPH-grain containment — the production complement
  // of q127: whole-doc engulfment probes word grams,
  // but a FineWeb-style pipeline also dedups QUOTED PARAGRAPHS living
  // inside otherwise-novel pages — a page that block-quotes most of
  // another page has low word-gram containment noise yet near-total
  // LINE-set containment. Same Broder containment measure, composed
  // from this module's page disciplines: the page model (q114's
  // [[pageLines]]), the chrome-strip census FIRST (a real pipeline
  // never counts shared nav/footer chrome as "quoted content" — and
  // the strip is also what bounds line df before the index), q118's
  // line digests, and then Dedup's rarest-probe kernel over the
  // surviving line sets: containment(d,c) = |L_d ∩ L_c| / |L_d| ≥ τ,
  // candidates from each doc's `ContainProbes` rarest surviving lines
  // (df ≤ the shared cap — never all-pairs).
  //
  // 100 TB shape: everything before the probe is scan-stage digests —
  // (doc_id, 8-byte line gid) is the widest shuffled row; the census
  // broadcast is q114's (per-source, corpus-size-independent); probe
  // fan-out is df-bounded exactly as q127, and chrome — the one
  // natural df hotspot at line grain — is REMOVED by the strip before
  // the index exists.
  //
  // The corpus is word soup with no natural cross-page quoting, so —
  // the q127 construction discipline — quote docs are constructed for
  // parents ≡ QuoteRes mod SnipMod: the parent's first
  // floor(floor(n/8)·SnipFrac) FULL body windows (whole lines, so the
  // quote's body lines are verbatim parent lines), id + QuoteOff.
  private[graft] final val QuoteRes = 5 // parents: doc_id % SnipMod
  /** Quote-id offset ≡ 0 mod both 17 and 3, so a quote's promo/footer
    * chrome presence MIRRORS its parent's ([[pageLines]] keys them on
    * doc_id % 17 / % 3): the un-stripped promo line, when a quote has
    * one, is then always shared with the parent and every constructed
    * quote sits at containment exactly 1.0. Guarded like
    * [[Dedup.SnipOff]]: parent ids outside [0, QuoteOff) refuse. */
  private[graft] final val QuoteOff = 1020000L

  /** The constructed quote docs: for each eligible parent, its first
    * floor(floor(n/8)·SnipFrac) FULL `BoilerW`-token body windows,
    * re-joined as text — so the quote's own page body lines are
    * verbatim parent body lines. Eligible = ≥ 1 quoted window
    * (3+ full windows, i.e. ≥ 24 words). Keeps the parent's `source`
    * so the quote's chrome digests match the parent's census. */
  private[graft] def quoteOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("wsa",
        regexp_extract_all(coalesce(col("text"), lit("")), lit("\\S+"),
          lit(0)))
      .withColumn("nq",
        floor(floor(size(col("wsa")) / lit(BoilerW.toDouble)) *
          Dedup.SnipFrac).cast("int"))
      .where(col("doc_id") % Dedup.SnipMod === QuoteRes && col("nq") >= 1)
      .select(
        // the Dedup.IdBlock low-region convention (see Dedup.snipOf):
        // passing rows put quote ids in a block's upper region,
        // provably disjoint from every real id
        when(pmod(col("doc_id"), lit(Dedup.IdBlock)) < Dedup.SnipOff,
          col("doc_id") + QuoteOff)
          .otherwise(raise_error(concat(
            lit(s"quoteOf: doc_id outside the low [0, ${Dedup.SnipOff}) " +
              s"region of its ${Dedup.IdBlock} id block would alias " +
              "quote ids onto real documents: "),
            col("doc_id").cast("string"))))
          .as("doc_id"),
        col("source"),
        array_join(slice(col("wsa"), lit(1), col("nq") * BoilerW), " ")
          .as("text"))

  /** docs ∪ constructed quote docs — the q130 corpus, exposed so the
    * streaming twin can freeze over the identical population. */
  private[graft] def withQuotes(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("source"), col("text"))
    base.unionByName(quoteOf(base))
  }

  /** The census over an explicit `(source, doc_id, lmd5)` LINE relation
    * — the materialized-scan form (q130/its streaming freeze): n_docs =
    * distinct doc ids in the relation, which equals [[boilerCensus]]'s
    * pd-side doc count because every page emits its header line. Same
    * threshold spelling ([[boilerThreshold]]); value-identical to
    * boilerCensus over the pd the relation came from (the q130 oracle's
    * hash gate pins it). */
  private[graft] def boilerCensusOfLines(li: DataFrame): DataFrame = {
    val srcN = li.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    li.groupBy(col("source"), col("lmd5"))
      .agg(countDistinct(col("doc_id")).as("cnt"))
      .join(broadcast(srcN), "source")
      .where(boilerThreshold)
  }

  /** ONE corpus page-line scan serving BOTH line-containment consumers
    * (at 100× separate [[lineDigests]] plans for the census and the
    * index would each re-run the exploded [[pageLines]] HOF chain —
    * 39 s + 48 s of the entry's ~108 s): materialize `(source, doc_id, lmd5)` once, derive the
    * chrome census AND the surviving-line index from the stored
    * relation. Returns (line relation, broadcast chrome pairs). */
  private[graft] def lineRelAndChrome(pd: DataFrame,
      tag: String): (DataFrame, DataFrame) = {
    val li = Scratch.materialize(lineDigests(pd), s"${tag}_li")
      .toDF("source", "doc_id", "lmd5")
    val boiler = Scratch.materialize(
      boilerCensusOfLines(li)
        .groupBy(col("source")).agg(collect_set(col("lmd5")).as("bset")),
      s"${tag}_boiler").toDF("source", "bset")
    (li,
      broadcast(boiler.select(col("source"), explode(col("bset")).as("lmd5"))))
  }

  /** One-scan lifecycle front half (guide §6 — scans, not threads):
    * materialize the page-line relation ONCE over the full
    * promoted population with `batch_id` derived per row (batch
    * membership is a pure function of doc_id), and freeze the chrome
    * census over the `censusPred` slice only. Value-identical to
    * scanning each batch separately — [[lineDigests]] is a per-document
    * function, so the tagged union of disjoint slices IS the tagged
    * single scan — with one text pass instead of one per batch, and the
    * census spelled over exactly the rows the per-slice scan produced
    * ([[boilerCensusOfLines]], the one spelling). */
  private def taggedLinesAndChrome(docs: DataFrame, batchCol: Column,
      censusPred: Column, tag: String): (DataFrame, DataFrame) = {
    val li = Scratch.materialize(
      lineDigests(pageDocs(docs)).withColumn("batch_id", batchCol),
      s"${tag}_li").toDF("source", "doc_id", "lmd5", "batch_id")
    val boiler = Scratch.materialize(
      boilerCensusOfLines(li.where(censusPred)
          .select(col("source"), col("doc_id"), col("lmd5")))
        .groupBy(col("source")).agg(collect_set(col("lmd5")).as("bset")),
      s"${tag}_boiler").toDF("source", "bset")
    (li, broadcast(
      boiler.select(col("source"), explode(col("bset")).as("lmd5"))))
  }

  /** The tagged per-batch surviving-line partials over a stored tagged
    * line relation — [[lineGramIdsOfRel]] per batch in ONE plan:
    * batch_id re-derives from doc_id after the per-doc distinct
    * (well-defined because a doc is in exactly one batch), so the
    * result is the union of the per-batch partials without re-reading
    * text. */
  private def taggedLineGrams(li: DataFrame, chromePairs: DataFrame,
      batchCol: Column): DataFrame =
    li.join(chromePairs, Seq("source", "lmd5"), "left_anti")
      .select(col("doc_id"), Dedup.hex12ToLong(col("lmd5")).as("gid"))
      .distinct()
      .withColumn("batch_id", batchCol)

  /** Per-doc DISTINCT surviving-line gids (q64 48-bit convention —
    * 8-byte keys across every probe shuffle) over a `(source, doc_id,
    * lmd5)` line relation, anti-joined against the chrome pairs. ONE
    * spelling shared by the batch index build (materialized relation)
    * and the streaming twin's delta side (via [[lineGramIds]]), so the
    * two surfaces cannot fork on what a document's line set is. */
  private[graft] def lineGramIdsOfRel(li: DataFrame,
      chromePairs: DataFrame): DataFrame =
    li.join(chromePairs, Seq("source", "lmd5"), "left_anti")
      .select(col("doc_id"), Dedup.hex12ToLong(col("lmd5")).as("gid"))
      .distinct()

  /** [[lineGramIdsOfRel]] straight off a page relation — the streaming
    * delta side (micro-batch-sized; no materialize needed). */
  private[graft] def lineGramIds(pd: DataFrame,
      chromePairs: DataFrame): DataFrame =
    lineGramIdsOfRel(lineDigests(pd), chromePairs)

  /** Line-grain containment over any `(doc_id, source, text)` corpus —
    * exposed for LineContainmentSpec's constructed fixtures and fuzz
    * gate. Strip-then-index: the census chrome never reaches the line
    * index, so containment measures QUOTED CONTENT only. */
  private[graft] def lineContainmentReport(docs: DataFrame): DataFrame = {
    val pd = pageDocs(withQuotes(docs))
    val (li, chromePairs) = lineRelAndChrome(pd, "q130")
    // the line INDEX — materialized, it feeds sizes/dfs plus the
    // probe's three legs
    val g = Scratch.materialize(lineGramIdsOfRel(li, chromePairs),
      "q130_lines").toDF("doc_id", "gid")
    val idx = Dedup.ContainIndex(g,
      g.groupBy(col("doc_id")).agg(count(lit(1)).as("ng")),
      g.groupBy(col("gid")).agg(count(lit(1)).as("df")))
    Dedup.probeContain(idx, g, idx.sizes, "q130")
      .withColumnRenamed("n_grams", "n_lines")
  }

  private def q130(s: SparkSession, d: String): DataFrame =
    lineContainmentReport(Tables.documents(s, d))

  // lazy: cross-module (Dedup constants + the shared probe SQL tail) —
  // the q75Sql init-cycle lesson
  private lazy val q130Sql =
    s"""WITH qsrc AS (
       |  SELECT doc_id, source,
       |    regexp_extract_all(coalesce(text, ''), '\\S+') AS ws
       |  FROM documents
       |  WHERE doc_id % ${Dedup.SnipMod} = $QuoteRes),
       |quotes AS (
       |  SELECT doc_id + $QuoteOff AS doc_id, source,
       |    array_to_string(ws[1 : CAST(floor(floor(len(ws)
       |      / CAST($BoilerW AS DOUBLE)) * ${Dedup.SnipFrac}) AS INT)
       |      * $BoilerW], ' ') AS text
       |  FROM qsrc
       |  WHERE CAST(floor(floor(len(ws) / CAST($BoilerW AS DOUBLE))
       |    * ${Dedup.SnipFrac}) AS INT) >= 1),
       |corpus AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL SELECT doc_id, source, text FROM quotes),
       |${pageLinesSqlFor("corpus")},
       |srcn AS (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY source),
       |census AS (
       |  SELECT source, md5(line) AS lmd5, COUNT(DISTINCT doc_id) AS cnt
       |  FROM lines GROUP BY 1, 2),
       |boiler AS (
       |  SELECT c.source, c.lmd5
       |  FROM census c JOIN srcn s USING (source)
       |  WHERE 2 * c.cnt >= s.n_docs AND s.n_docs >= $BoilerMinDocs),
       |surv AS (
       |  SELECT l.doc_id, md5(l.line) AS lmd5
       |  FROM lines l LEFT JOIN boiler b
       |    ON l.source = b.source AND md5(l.line) = b.lmd5
       |  WHERE b.lmd5 IS NULL),
       |g AS (SELECT DISTINCT doc_id, ${Dedup.hex12ToLongSql("lmd5")} AS gid
       |      FROM surv),
       |sizes AS (SELECT doc_id, COUNT(*) AS ng FROM g GROUP BY 1),
       |dfx AS (SELECT gid, COUNT(*) AS df FROM g GROUP BY 1),
       |${Dedup.containSelfProbeSqlTail("n_lines")}""".stripMargin

  // ---- q131/q132: the INCREMENTAL lifecycle of the LINE-grain
  // containment index (q128/q129's algebra at q130's grain). The
  // postings algebra is the word grain's APPEND-pure one: per-doc
  // surviving-line gids and sizes are per-DOCUMENT rows, so promote =
  // the delta's page-line scan + APPEND and retract = partition
  // pruning over the batch_id-partitioned store. The NEW wrinkle is
  // the chrome census: it is a FROZEN INPUT, captured over the
  // BOOTSTRAP batch at publish time and applied unchanged to every
  // delta — exactly StreamingBoiler's census-drift horizon (chrome
  // that emerges only after the freeze indexes un-stripped until a
  // re-freeze). Both entries' oracles therefore spell the census over
  // the bootstrap population ONLY: merged ≡ rebuilt and demoted ≡
  // rebuilt-without are proven UNDER the frozen chrome — the contract
  // a production promote actually runs, not a census rebuilt per
  // delta (which would be corpus-linear work on every micro-batch).

  /** One batch's line-grain containment partials (`g`, `sizes`) under
    * a FROZEN chrome set, the line scan materialized once so both
    * relations read the stored scan; the release handle frees it once a
    * streaming promote's writes land (see [[Dedup.containPartials]]). */
  private[graft] def lineContainPartials(docs: DataFrame,
      chrome: DataFrame, batchId: Long, tag: String): Partials = {
    val (gRaw, release) = Scratch.materializeManaged(
      lineGramIds(pageDocs(docs), chrome), s"${tag}_lcp${batchId}_g")
    val g = gRaw.toDF("doc_id", "gid").withColumn("batch_id", lit(batchId))
    Partials(Seq("g" -> g, "sizes" -> Dedup.containSizes(g)), release)
  }

  /** The lifecycle entries' shared probe-side line scan: constructed
    * quotes of `quoteBase` parents ∪ the unseen `rest` docs, reduced to
    * surviving line gids under the frozen `chrome`, materialized. Split
    * from the probe itself: this scan depends ONLY on the chrome census,
    * so the lifecycle entries run it on a driver thread OVERLAPPED with
    * the index store/re-freeze chain (guide §2.6) instead of serially
    * after it. */
  private def probeLineGrams(chrome: DataFrame, quoteBase: DataFrame,
      rest: DataFrame, tag: String): DataFrame = {
    val probeDocs = quoteOf(quoteBase)
      .unionByName(rest.select(col("doc_id"), col("source"), col("text")))
    Scratch.materialize(
      lineGramIds(pageDocs(probeDocs), chrome), s"${tag}_pg")
      .toDF("doc_id", "gid")
  }

  /** The probe over a materialized probe-gram relation. */
  private def probeFromG(idx: Dedup.ContainIndex, gp: DataFrame,
      tag: String): DataFrame =
    Dedup.probeContain(idx, gp,
      gp.groupBy(col("doc_id")).agg(count(lit(1)).as("ng")), tag)
      .withColumnRenamed("n_grams", "n_lines")

  /** Line-containment MERGE equivalence (q131): freeze the chrome
    * census over the bootstrap batch (doc_id ≡ 0,1,2 mod 7), store its
    * partials and the delta's (≡ 3,4) under the frozen chrome as
    * batches 0 and 1, then probe quotes of the INDEX population
    * (guaranteed line-set engulfments) plus the unseen docs (≡ 5,6).
    * Oracle = the probe against the index REBUILT over frozen∪delta
    * with the census still spelled over the bootstrap only — merged ≡
    * rebuilt under frozen chrome. Batch modulus 7 is coprime to the
    * generator's 20-source round-robin, so every source has bootstrap
    * census evidence. */
  private def q131(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
    val m = col("doc_id") % 7
    val batchCol = when(col("doc_id") % 7 < 3, lit(0L)).otherwise(lit(1L))
    val (li, chrome) = taggedLinesAndChrome(docs.filter(m < 5), batchCol,
      col("batch_id") === 0L, "q131")
    // the probe-side line scan needs only the frozen chrome, so it
    // overlaps the store on a driver thread
    val (live, gp) = Overlap.pair(
      Dedup.storeContain(taggedLineGrams(li, chrome, batchCol), "q131"),
      probeLineGrams(chrome, docs.filter(m < 5), docs.filter(m >= 5),
        "q131"))
    probeFromG(Dedup.collapseContain(live), gp, "q131")
  }

  /** Line-containment RETRACTION equivalence (q132): freeze the chrome
    * census over batch 0 (doc_id ≡ 0,1 mod 7), promote batches 0/1/2
    * (≡ 0,1 / 2,3 / 4) under it, store partitioned by batch_id,
    * retract batch 2 (the re-crawled source recalled after promote),
    * and probe quotes of the FULL promoted population — quotes of
    * batch-2 parents lose their container, so the retraction is
    * observable in the report. Oracle = the probe against the index
    * REBUILT over batches 0∪1 only, census still over batch 0:
    * demoted ≡ rebuilt-without under frozen chrome. */
  private def q132(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
    val m = col("doc_id") % 7
    val batchCol = when(col("doc_id") % 7 < 2, lit(0L))
      .when(col("doc_id") % 7 < 4, lit(1L)).otherwise(lit(2L))
    val (li, chrome) = taggedLinesAndChrome(docs.filter(m < 5), batchCol,
      col("batch_id") === 0L, "q132")
    val (stored, gp) = Overlap.pair(
      Dedup.storeContain(taggedLineGrams(li, chrome, batchCol), "q132"),
      probeLineGrams(chrome, docs.filter(m < 5), docs.filter(m >= 5),
        "q132"))
    probeFromG(Dedup.collapseContain(stored.retract(2L)), gp, "q132")
  }

  /** The two-population line-grain probe oracle under a FROZEN chrome
    * census (census over `censusPred` docs ONLY; index over `idxPred`;
    * probe = quotes of `snipPred` parents ∪ `probePred` docs) — the
    * SQL twin of the q131/q132 lifecycle over
    * [[Dedup.collapseContain]]-shaped state, sharing the quote
    * construction with q130 and the probe tail with q128/q129. */
  private def lineContainSqlFor(censusPred: String, idxPred: String,
      snipPred: String, probePred: String): String =
    s"""WITH qsrc AS (
       |  SELECT doc_id, source,
       |    regexp_extract_all(coalesce(text, ''), '\\S+') AS ws
       |  FROM documents
       |  WHERE doc_id % ${Dedup.SnipMod} = $QuoteRes AND ($snipPred)),
       |quotes AS (
       |  SELECT doc_id + $QuoteOff AS doc_id, source,
       |    array_to_string(ws[1 : CAST(floor(floor(len(ws)
       |      / CAST($BoilerW AS DOUBLE)) * ${Dedup.SnipFrac}) AS INT)
       |      * $BoilerW], ' ') AS text
       |  FROM qsrc
       |  WHERE CAST(floor(floor(len(ws) / CAST($BoilerW AS DOUBLE))
       |    * ${Dedup.SnipFrac}) AS INT) >= 1),
       |ccorp AS (SELECT doc_id, source, text FROM documents
       |          WHERE $censusPred),
       |icorp AS (SELECT doc_id, source, text FROM documents
       |          WHERE $idxPred),
       |pcorp AS (
       |  SELECT doc_id, source, text FROM documents WHERE $probePred
       |  UNION ALL SELECT doc_id, source, text FROM quotes),
       |${pageLinesSqlNamed("ccorp", "cdd", "clines")},
       |srcn AS (SELECT source, COUNT(*) AS n_docs FROM cdd
       |         GROUP BY source),
       |census AS (
       |  SELECT source, md5(line) AS lmd5, COUNT(DISTINCT doc_id) AS cnt
       |  FROM clines GROUP BY 1, 2),
       |boiler AS (
       |  SELECT c.source, c.lmd5
       |  FROM census c JOIN srcn s USING (source)
       |  WHERE 2 * c.cnt >= s.n_docs AND s.n_docs >= $BoilerMinDocs),
       |${pageLinesSqlNamed("icorp", "idd", "ilines")},
       |gi AS (
       |  SELECT DISTINCT l.doc_id,
       |    ${Dedup.hex12ToLongSql("md5(l.line)")} AS gid
       |  FROM ilines l LEFT JOIN boiler b
       |    ON l.source = b.source AND md5(l.line) = b.lmd5
       |  WHERE b.lmd5 IS NULL),
       |${pageLinesSqlNamed("pcorp", "pdd", "plines")},
       |gp AS (
       |  SELECT DISTINCT l.doc_id,
       |    ${Dedup.hex12ToLongSql("md5(l.line)")} AS gid
       |  FROM plines l LEFT JOIN boiler b
       |    ON l.source = b.source AND md5(l.line) = b.lmd5
       |  WHERE b.lmd5 IS NULL),
       |${Dedup.containTwoPopProbeSqlTail("n_lines")}""".stripMargin

  // lazy: cross-module constants (the q75Sql init-cycle lesson)
  private lazy val q131Sql = lineContainSqlFor(
    "doc_id % 7 < 3", "doc_id % 7 < 5", "doc_id % 7 < 5",
    "doc_id % 7 >= 5")

  private lazy val q132Sql = lineContainSqlFor(
    "doc_id % 7 < 2", "doc_id % 7 < 4", "doc_id % 7 < 5",
    "doc_id % 7 >= 5")

  // ---- q133/q134: INCREMENTAL CHROME RE-FREEZE — the composition of
  // the boiler-census lifecycle (q115/q116's SUM-mergeable census) with
  // the frozen line-containment index (q130/q131/q132). The lifecycle
  // entries freeze the chrome census at publish and document the drift
  // horizon: chrome that only emerges across delta batches indexes
  // un-stripped (q133's direction), and chrome established over a
  // narrow bootstrap can turn out NOT to be chrome once the wider
  // corpus arrives, leaving real content quarantined (q134's). The
  // naive repair is a full line-index rebuild — a 100 TB text re-scan.
  // The re-freeze instead recomputes ONLY the postings of lines whose
  // chrome verdict FLIPPED: the store keeps the stripped complement
  // (per-doc postings of lines that WERE chrome at their promote —
  // bounded: chrome lines are few per source, so the quarantine store
  // is O(n_docs × |chrome|), the same order as one stored column) and
  // rows carry `source`, so a census flip moves rows between the two
  // stores with broadcast-flip-set joins over the compact gid stores —
  // scan-stage, zero shuffle, zero page-line re-parse (the structural
  // pin in LineRefreezeSpec: the move plan contains no regexp scan and
  // no shuffle exchange). `source` lives on STORED rows only; collapse
  // projects (doc_id, gid) before the probe chain, so probe shuffles
  // keep the 8-byte-gid width. Moved rows keep their origin batch_id,
  // so retraction (partition prune) still composes after a re-freeze.

  /** One batch's line-containment store WITH the quarantined chrome
    * complement, off a `(source, doc_id, lmd5)` line relation: `surv`
    * (the anti-join side) indexes, `strip` (the semi-join side) is
    * quarantined — both `(source, doc_id, gid, batch_id)`, ONE split
    * spelling so a line is on exactly one side of the store for its
    * batch's frozen chrome. */
  private[graft] def lineStatePartials(li: DataFrame, chromePairs: DataFrame,
      batchId: Long): Partials = {
    def side(joinType: String): DataFrame =
      li.join(chromePairs, Seq("source", "lmd5"), joinType)
        .select(col("source"), col("doc_id"),
          Dedup.hex12ToLong(col("lmd5")).as("gid"))
        .distinct()
    Partials.tagged(batchId,
      "surv" -> side("left_anti"), "strip" -> side("left_semi"))
  }

  /** One batch's census partials off the SAME line relation (the
    * one-scan discipline: postings split and census read one stored
    * scan) — [[censusPartials]]-shaped, so [[collapsedCensus]] applies.
    * n_docs = distinct doc ids, the [[boilerCensusOfLines]]
    * equivalence (every page emits its header line). */
  private[graft] def lineCensusPartials(li: DataFrame, batchId: Long)
      : Partials = Partials.tagged(batchId,
    "counts" -> li.groupBy(col("source"), col("lmd5"))
      .agg(countDistinct(col("doc_id")).as("cnt")),
    "srcn" -> li.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs")))

  /** One micro-batch of `(doc_id, source, text)` pages for the
    * re-freeze-capable store, under the currently published `chrome`:
    * ONE digests scan, materialized, feeds the census partials AND both
    * postings sides (release frees it once the writes land). The scan
    * is named by the store's `tag` and the batch id. */
  private[graft] def lineRefreezePartials(docs: DataFrame, chrome: DataFrame,
      batchId: Long, tag: String): Partials = {
    val (liRaw, release) = Scratch.materializeManaged(
      lineDigests(pageDocs(docs)), s"${tag}_li$batchId")
    val li = liRaw.toDF("source", "doc_id", "lmd5")
    val p = lineCensusPartials(li, batchId) ++
      lineStatePartials(li, broadcast(chrome), batchId)
    p.copy(release = release)
  }

  /** The re-freeze move over a store's `surv`/`strip` partials: surv
    * loses the ADDED chrome's postings to the quarantine, strip returns
    * the REMOVED chrome's postings to the index — flip sets are
    * per-source chrome deltas (tiny: lines that crossed the
    * half-the-source verdict), broadcast into scan-stage joins over the
    * stored gid rows. Algebra: surv' = lines ∉ ((C_old ∪ added) ∖
    * removed) = lines ∉ C_new — exactly the index a full rebuild under
    * C_new produces, without touching text. */
  private[graft] def refreezeLineState(st: Partials,
      oldChrome: DataFrame, newChrome: DataFrame): Partials = {
    def gidPairs(pairs: DataFrame): DataFrame =
      pairs.select(col("source"), Dedup.hex12ToLong(col("lmd5")).as("gid"))
    val added = gidPairs(
      newChrome.join(oldChrome, Seq("source", "lmd5"), "left_anti"))
    val removed = gidPairs(
      oldChrome.join(newChrome, Seq("source", "lmd5"), "left_anti"))
    // USING-column joins move the keys to the front of the output
    // schema — re-select the store shape explicitly, or a downstream
    // positional rename silently swaps doc_id↔gid (both LONG)
    def shaped(df: DataFrame): DataFrame = df.select(
      col("source"), col("doc_id"), col("gid"), col("batch_id"))
    val (surv, strip) = (st("surv"), st("strip"))
    Partials(Seq(
      "surv" -> shaped(surv.join(broadcast(added), Seq("source", "gid"),
          "left_anti"))
        .union(shaped(strip.join(broadcast(removed),
          Seq("source", "gid"), "left_semi"))),
      "strip" -> shaped(strip.join(broadcast(removed), Seq("source", "gid"),
          "left_anti"))
        .union(shaped(surv.join(broadcast(added), Seq("source", "gid"),
          "left_semi")))))
  }

  /** Collapse the store to the probe-ready index. Sizes DERIVE from the
    * surviving postings here (unlike q131's stored sizes partials): a
    * re-freeze changes per-doc counts, and deriving at publish keeps
    * the move itself append/prune-pure. `source` is projected away
    * FIRST — probe shuffles stay (doc_id, 8-byte gid). */
  private[graft] def collapseLineState(st: Partials): Dedup.ContainIndex = {
    val g = st("surv").select(col("doc_id"), col("gid"))
    Dedup.ContainIndex(g,
      g.groupBy(col("doc_id")).agg(count(lit(1)).as("ng")),
      g.groupBy(col("gid")).agg(count(lit(1)).as("df")))
  }

  /** The two entries' shared lifecycle over the promoted population
    * `pop` split by `bootPred` (bootstrap = batch 0, delta = batch 1;
    * both pure doc_id predicates): freeze chrome over the bootstrap
    * slice's census, promote the delta under the FROZEN chrome, store
    * both postings sides partitioned by batch_id, collapse census
    * partials to C_new, re-freeze the STORED postings, and probe
    * quotes of `pop` ∪ `rest` under C_new. Oracle =
    * [[lineContainSqlFor]] with the census over the FULL promoted
    * population — refrozen ≡ rebuilt-under-C_new. */
  private def lineRefreezeLifecycle(pop: DataFrame, bootPred: Column,
      rest: DataFrame, tag: String): DataFrame = {
    // ONE tagged page-line scan produces both batches' line relations
    // (batch membership is a per-row predicate of doc_id); C_new is
    // materialized once, and the probe-side line scan (which depends
    // only on C_new) overlaps the re-freeze/republish chain.
    val li = Scratch.materialize(
      lineDigests(pageDocs(pop)).withColumn("batch_id",
        when(bootPred, lit(0L)).otherwise(lit(1L))),
      s"${tag}_li").toDF("source", "doc_id", "lmd5", "batch_id")
    def liOf(b: Long): DataFrame = li.where(col("batch_id") === b)
      .select(col("source"), col("doc_id"), col("lmd5"))
    val (li0, li1) = (liOf(0L), liOf(1L))
    // C_old: the one boilerCensusOfLines spelling over the bootstrap
    // relation, exactly as lineRelAndChrome freezes it
    val oldChrome = broadcast(Scratch.materialize(
      boilerCensusOfLines(li0)
        .groupBy(col("source")).agg(collect_set(col("lmd5")).as("bset")),
      s"${tag}_boiler").toDF("source", "bset")
      .select(col("source"), explode(col("bset")).as("lmd5")))
    // the STORE: both sides land partitioned by batch_id before any
    // re-freeze — the move provably consumes stored postings, not text
    val stored = lineStatePartials(li0, oldChrome, 0L)
      .union(lineStatePartials(li1, oldChrome, 1L))
      .store(tag)
    val newChrome = broadcast(Scratch.materialize(
      collapsedCensus(lineCensusPartials(li0, 0L)
          .union(lineCensusPartials(li1, 1L)))
        .select(col("source"), col("lmd5")), s"${tag}_nc")
      .toDF("source", "lmd5"))
    val refrozen = refreezeLineState(stored, oldChrome, newChrome)
    val (rsurv, gp) = Overlap.pair(
      // republish the surviving index (strip' stays lazy — the probe
      // never consumes it; LineRefreezeSpec pins its correctness)
      Scratch.materialize(refrozen("surv"), s"${tag}_rsurv"),
      probeLineGrams(newChrome, pop, rest, tag))
    // name-preserving re-alias (fresh attribute ids for the probe's
    // self-joins) — NOT a positional rename, see refreezeLineState
    probeFromG(collapseLineState(
      Partials(Seq("surv" -> rsurv.toDF(rsurv.columns: _*)))), gp, tag)
  }

  /** Chrome re-freeze, EMERGED direction (q133): the bootstrap is the
    * footerless crawl (doc_id ≡ 0 mod 3 — the page model attaches the
    * footer line to ≡ 1,2 only), so the publish-time census knows
    * header+nav but NOT the footer; the delta is all footer carriers,
    * whose footer lines index as CONTENT under the frozen chrome.
    * C_new over the full promoted population (footer in 2/3 of every
    * source, margin ≥ 3 at every SF) flips the footer IN; the
    * re-freeze quarantines exactly those postings. Moduli 7 (promote/
    * probe split) and 3 (bootstrap split) are both coprime to the
    * generator's 20-source round-robin. */
  private def q133(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
    val m = col("doc_id") % 7
    val pop = docs.filter(m < 5)
    lineRefreezeLifecycle(pop, col("doc_id") % 3 === 0,
      docs.filter(m >= 5), "q133")
  }

  /** Chrome re-freeze, RETIRED direction (q134): the bootstrap
    * oversamples footer carriers (doc_id ≡ 2,5 mod 9 — both ≢ 0 mod
    * 3), so the footer IS chrome at publish and every bootstrap doc's
    * footer postings sit in the quarantine; the delta is footerless
    * (≡ 0 mod 3). Under C_new the footer sits below half in 19/20
    * sources (source 14's 2·cnt = n_docs boundary holds it chrome
    * there — deterministic, and the ≥ spelling is shared with the SQL
    * twin), so the re-freeze RETURNS the quarantined postings to the
    * index — the direction that proves the stripped complement store
    * is load-bearing: the resurrected lines never re-parse text. */
  private def q134(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
    val m = col("doc_id") % 7
    // the lifecycle population is boot ∪ delta — a strict subset of
    // m < 5 here (docs with %9 ∈ {1,4,7,8} and %3 ≠ 0 are in neither
    // batch), spelled as one predicate for the tagged single scan
    val pop = docs.filter(m < 5 &&
      (col("doc_id") % 9 === 2 || col("doc_id") % 9 === 5 ||
        col("doc_id") % 3 === 0))
    lineRefreezeLifecycle(pop,
      col("doc_id") % 9 === 2 || col("doc_id") % 9 === 5,
      docs.filter(m >= 5), "q134")
  }

  private lazy val q133Sql = lineContainSqlFor(
    "doc_id % 7 < 5", "doc_id % 7 < 5", "doc_id % 7 < 5",
    "doc_id % 7 >= 5")

  private lazy val q134Sql = lineContainSqlFor(
    "doc_id % 7 < 5 AND doc_id % 9 IN (0, 2, 3, 5, 6)",
    "doc_id % 7 < 5 AND doc_id % 9 IN (0, 2, 3, 5, 6)",
    "doc_id % 7 < 5 AND doc_id % 9 IN (0, 2, 3, 5, 6)",
    "doc_id % 7 >= 5")

  override def entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q25_scalar_hex_keys", q25, Some(q25Sql)),
    CatalogEntry("q20_token_counts", q20, Some(q20Sql)),
    CatalogEntry("q21_quality_score", q21, Some(q21Sql)),
    CatalogEntry("q22_language_id", q22, Some(q22Sql)),
    CatalogEntry("q23_fingerprint", q23, Some(q23Sql)),
    CatalogEntry("q24_trigram_topk", q24, Some(q24Sql)),
    CatalogEntry("q26_text_clean", q26, Some(q26Sql)),
    CatalogEntry("q27_tfidf_terms", q27, Some(q27Sql)),
    CatalogEntry("q28_doc_cube", q28, Some(q28Sql)),
    CatalogEntry("q47_bm25", q47, Some(q47Sql)),
    CatalogEntry("q108_chunk_retrieval", q108, Some(q108Sql)),
    CatalogEntry("q53_repetition_signals", q53, Some(q53Sql)),
    CatalogEntry("q114_boilerplate_strip", q114, Some(q114Sql)),
    CatalogEntry("q123_boiler_census", q114c, Some(q114cSql)),
    CatalogEntry("q115_boiler_index_merge", q115, Some(q115Sql)),
    CatalogEntry("q116_boiler_index_retract", q116, Some(q116Sql)),
    CatalogEntry("q56_sketch_profile", q56, None),
    CatalogEntry("q65_lm_surprisal", q65, Some(q65Sql)),
    CatalogEntry("q110_curriculum_phases", q110, Some(q110Sql)),
    CatalogEntry("q66_bpe_train", q66, Some(q66Sql)),
    CatalogEntry("q71_bpe_encode", q71, Some(q71Sql)),
    CatalogEntry("q73_quality_classifier", q73, None),
    CatalogEntry("q84_sketch_certificate", q84, Some(q84Sql)),
    CatalogEntry("q125_sketch_source_certificate", q125, Some(q125Sql)),
    CatalogEntry("q126_c4_filters", q126, Some(q126Sql)),
    CatalogEntry("q86_classifier_certificate", q86, Some(q86Sql)),
    CatalogEntry("q117_pii_redact", q117, Some(q117Sql)),
    CatalogEntry("q118_paragraph_dedup", q118, Some(q118Sql)),
    CatalogEntry("q130_line_containment", q130, Some(q130Sql)),
    CatalogEntry("q131_line_contain_merge", q131, Some(q131Sql)),
    CatalogEntry("q132_line_contain_retract", q132, Some(q132Sql)),
    CatalogEntry("q133_chrome_refreeze_add", q133, Some(q133Sql)),
    CatalogEntry("q134_chrome_refreeze_drop", q134, Some(q134Sql)),
    CatalogEntry("q119_hard_negatives", q119, Some(q119Sql)),
    CatalogEntry("q120_tokenizer_fertility", q120, Some(q120Sql)),
    CatalogEntry("q122_clean_pipeline", q122, Some(q122Sql)),
  )
}
