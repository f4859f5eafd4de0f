package graft.queries

import graft.{Overlap, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (documents table).
  *
  * Scale design (the point of each query, beyond its small-SF correctness):
  *  - exact dedup is one hash-groupBy: the shuffle carries (md5, doc_id)
  *    pairs only, never the text.
  *  - MinHash signatures/bands are per-row higher-order expressions — a
  *    narrow map stage. Only (band_key, doc_id) pairs shuffle for the
  *    candidate join; text never moves.
  *  - n-gram Jaccard runs only within blocking buckets (lang × length
  *    decile), never all-pairs.
  *  - SimHash is explode → 64 map-side partial sums → 16-char hex digest,
  *    one shuffle of 64 ints per doc.
  *  - embedding near-dup blocks on `label` (a coarse cluster id — the IVF
  *    pattern), so the pair join is per-bucket, not cross.
  */
object Dedup extends QueryModule {

  /** Word 3-gram shingle set (distinct) over a MATERIALIZED word-array
    * column — shared by q31/q32. `ws` must be a plain attribute (computed
    * below an exchange), not the regexp expression itself: lambda bodies
    * are interpreted without common-subexpression elimination, so an
    * inlined regexp_extract_all would re-scan the text once per
    * element_at — measured as the difference between minutes and seconds
    * at sf0.1.
    */
  private def shinglesFromWords(ws: Column): Column =
    array_distinct(
      when(size(ws) >= 3,
        transform(sequence(lit(1), size(ws) - 2), i =>
          concat_ws(" ",
            element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))))
        .otherwise(array().cast("array<string>")))

  /** The word token class of the whole dedup family (MinHash shingles,
    * SimHash, 8-gram decontamination). KNOWN cross-engine edge, masked
    * on the pinned corpus: Java's `\s` includes U+000B (vertical tab),
    * RE2's (DuckDB) does not — a corpus containing one would tokenize
    * differently between engine and oracle. If a future generator
    * emits control characters, replace `\S+` with the EXPLICIT class
    * `[^ \t\n\x0B\f\r]+` on the ORACLE side (Java semantics) in every
    * oracle twin — or adopt SuffixDedup's printable-range class.
    */
  private val wordsCol: Column =
    regexp_extract_all(col("text"), lit("\\S+"), lit(0))

  private val shinglesSql =
    """list_distinct(CASE WHEN len(regexp_extract_all(text, '\S+')) >= 3
      |  THEN list_transform(range(1, len(regexp_extract_all(text, '\S+')) - 1),
      |    i -> regexp_extract_all(text, '\S+')[i] || ' ' ||
      |         regexp_extract_all(text, '\S+')[i+1] || ' ' ||
      |         regexp_extract_all(text, '\S+')[i+2])
      |  ELSE [] END)""".stripMargin.replace("\n", " ")

  /** Exact dedup: md5-groupBy, keeper = min doc_id, duplicate groups only. */
  private def q30(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .orderBy(col("text_md5"))

  private val q30Sql =
    """SELECT md5(text) AS text_md5, MIN(doc_id) AS keeper_doc_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
      |ORDER BY text_md5""".stripMargin

  /** Max shingles a document may share a posting list with: shingles seen
    * in more than DfCap documents are stop-shingles — they carry no
    * near-dup signal (any two random docs share them) but each one alone
    * creates O(df²) join pairs. The cap bounds the inverted-index join at
    * Σ(min(df, DfCap)²) regardless of corpus size — the difference
    * between 899 s and seconds at sf0.1, and between feasible and not at
    * 100 TB. Jaccard is computed over the rare-shingle sets (standard
    * stop-feature filtering; the oracle twin applies the identical
    * definition).
    */
  private val DfCap = 50

  /** n-gram Jaccard near-dup via a frequency-capped INVERTED INDEX:
    * explode shingles, drop shingles with document frequency > DfCap,
    * join docs on a shared rare shingle (within the (lang, length-bucket)
    * block), count shared shingles per pair, Jaccard from rare-set sizes.
    *
    * This shape — not a pairwise array_intersect — is what survives
    * 100 TB: work is proportional to Σ(capped-bucket size²), the
    * per-pair cost is one codegen'd count, and zero-overlap pairs are
    * never materialized. Every shuffle carries (ids, shingle) pairs
    * only; text never moves.
    */
  private def q31(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / 100).cast("long").as("len_bkt"),
        wordsCol.as("ws"))
    // shingle lists are distinct per doc, so count(*) = document frequency.
    // `rare` feeds FOUR join legs (pair sides + two size lookups) and `ex`
    // two more — materialize both as store-backed temp tables or the
    // scan→regexp→explode subtree re-executes per leg (static plans don't
    // dedupe it; AQE exchange reuse is not guaranteed across the aliased
    // sides). The repartition barrier before the shingle lambda is still
    // load-bearing: without it the words regexp would inline into the
    // lambda and re-evaluate per element (no CSE in HOFs).
    val ex = Scratch.materialize(
      base.repartition(Scratch.par(base))
        .select(col("doc_id"), col("lang"), col("len_bkt"),
          explode(shinglesFromWords(col("ws"))).as("s")),
      "q31_ex")
    val rareShingles = ex.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= DfCap)
      .select(col("s"))
    val rare = Scratch.materialize(ex.join(rareShingles, "s"), "q31_rare")
    val sz = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pairs = rare
      .select(col("doc_id").as("doc_a"), col("lang"), col("len_bkt"), col("s"))
      .join(rare.select(col("doc_id").as("doc_b"), col("lang"),
        col("len_bkt"), col("s")), Seq("lang", "len_bkt", "s"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  private val q31Sql =
    s"""WITH docs AS (
       |  SELECT doc_id, lang, CAST(n_chars // 100 AS BIGINT) AS len_bkt,
       |    $shinglesSql AS sh
       |  FROM documents),
       |ex AS (
       |  SELECT doc_id, lang, len_bkt, unnest(sh) AS s FROM docs),
       |rare AS (
       |  SELECT ex.* FROM ex
       |  JOIN (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= $DfCap) r
       |    USING (s)),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM rare a JOIN rare b
       |    ON a.lang = b.lang AND a.len_bkt = b.len_bkt AND a.s = b.s
       |      AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
       |FROM pairs
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin

  private val H = 16 // MinHash signature length
  private val Bands = 4 // LSH bands of 4 rows each

  /** Deterministic 48-bit seeds for the MinHash family (golden-ratio
    * multiplicative sequence, masked to 48 bits so xor results stay
    * within DuckDB's non-overflowing BIGINT range). Embedded as literals
    * in both engines' plans.
    */
  private val Seeds: Seq[Long] =
    (1 to H).map(k => (0x9E3779B97F4A7C15L * k) & 0xFFFFFFFFFFFFL)

  // primitive copy for the per-shingle JVM loop: Seeds(k) on a Seq is
  // a boxed Vector apply, paid H times per shingle on the hot path the
  // surrounding code exists to keep cheap
  private val SeedsArr: Array[Long] = Seeds.toArray

  /** First 6 md5 bytes of `s`, big-endian — the JVM twin of the
    * engine-side `hex12ToLong(md5(...))` convention, shared by every
    * driver/executor-side consumer (bandKeysOf, StreamingMix) so the
    * spelling can never fork. The caller supplies the digest instance:
    * hoist ONE per partition/group — `getInstance` per row is a
    * provider lookup on the hot path.
    */
  private[graft] def md5Prefix48(md: java.security.MessageDigest,
      s: String): Long = {
    val dg = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 6) { h = (h << 8) | (dg(i) & 0xffL); i += 1 }
    h
  }

  /** First 12 hex digits of a lowercase digest as a 48-bit long —
    * a codegen'd polynomial over ascii values, no string parsing UDF.
    */
  private[graft] def hex12ToLong(h: Column): Column =
    (0 until 12).map(j =>
      hexVal(substring(h, j + 1, 1)).cast("long") * lit(1L << (4 * (11 - j))))
      .reduce(_ + _)

  private[graft] def hex12ToLongSql(expr: String): String =
    (0 until 12).map(j =>
      s"CAST(${hexValSql(s"substring($expr, ${j + 1}, 1)")} AS BIGINT) * ${1L << (4 * (11 - j))}")
      .mkString("(", " + ", ")")

  /** MinHash + LSH banding: 16-hash signature, 4 bands × 4 rows, candidate
    * pairs = docs sharing a band bucket, ranked by #shared bands.
    *
    * Signature stage: ONE md5 per shingle occurrence (materialized as its
    * own projection — CollapseProject keeps non-cheap exprs referenced
    * more than once from being inlined), folded to a 48-bit int, then 16
    * xor-seeded `min` aggregates. xor by a constant is a (weak but valid)
    * permutation of the key space, and the base values are already
    * uniform md5 bits — statistically adequate for banding, and 16×
    * cheaper than 16 seeded md5s (the round-1 formulation: 139.8 s at
    * sf0.1; this one is map-side partial mins over one digest).
    * Only (band_key, doc_id) pairs shuffle; text never moves.
    */
  /** The q32 signature stage as a STATELESS per-row map — (band_key,
    * doc_id) entries from a `(doc_id, text)` relation, batch or
    * streaming. Replaces q32's explode→groupBy(doc_id) min-aggregation
    * with single-pass array expressions (the per-doc shingle set already
    * lives in one row), so a streaming source needs NO stateful shuffle
    * to compute signatures — state enters only at the band index
    * (`graft.streaming.StreamingDedup`). Band keys are bit-identical to
    * q32's: same shingles, same 48-bit fold, same xor-seeded mins, same
    * band digest.
    *
    * Each intermediate array is its own projection: `transform` bodies
    * are interpreted without CSE, and CollapseProject's cheap-expr check
    * is what keeps the md5 array from being inlined 16× into the
    * per-seed mins.
    */
  /** One document's band keys, bit-identical to the q32 expression
    * chain: distinct word-3-gram shingles → md5 → first-12-hex-digit
    * 48-bit fold → 16 xor-seeded mins → 4 band digests over the
    * decimal-joined mins. Plain JVM code rather than array-lambda
    * expressions because `transform`/`array_min` are interpreted
    * (CodegenFallback) — measured 9.4 s vs ~1 s at sf0.1 for the same
    * math; this is the one other place (after binary/media decode)
    * where dropping below Catalyst expressions is the right call.
    */
  private def bandKeysOf(md: java.security.MessageDigest,
      text: String): Seq[String] = {
    // null-tolerant like the codegen'd column paths (SQL null in,
    // null/empty out): WordRe.findAllIn(null) would NPE inside
    // mapPartitions and kill a streaming consumer on one poison row
    // (StreamingCurate guards the same hazard)
    if (text == null) return Seq.empty
    val words = WordRe.findAllIn(text).toArray
    if (words.length < 3) return Seq.empty
    val shingles = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0
    while (i + 2 < words.length) {
      shingles += (words(i) + " " + words(i + 1) + " " + words(i + 2)); i += 1
    }
    val mins = Array.fill(H)(Long.MaxValue)
    shingles.foreach { s =>
      val h = md5Prefix48(md, s)
      var k = 0
      while (k < H) {
        val v = h ^ SeedsArr(k); if (v < mins(k)) mins(k) = v; k += 1
      }
    }
    (0 until Bands).map { b =>
      val key = s"$b|" + (0 until 4).map(i => mins(b * 4 + i)).mkString(",")
      md.digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }
  }

  // same token class as wordsCol; private[graft]: q105's chunker and
  // the streaming cut twin tokenize with the ONE spelling
  private[graft] val WordRe = "\\S+".r

  def bandEntries(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          bandKeysOf(md, text).map(k => (id, k))
        }
      }
      .toDF("doc_id", "band_key")
  }

  /** The q32 pair computation over an arbitrary `(doc_id, text)`
    * relation — shared by q32 (full corpus) and q67 (the pipeline's
    * decontaminated survivors).
    */
  private def minhashPairs(docs: DataFrame): DataFrame =
    pairsFromBanded(bandedOf(docs))

  /** The per-doc signature/band stage of [[minhashPairs]] — a PURE
    * per-document function of `text` (no corpus-wide state), factored
    * out so callers that cluster several corpus
    * SNAPSHOTS of one fixture (q111/q124's two releases) can compute
    * the band keys ONCE over the union and filter per snapshot, instead
    * of re-running the shingle explode + 16-min aggregation per side.
    */
  private[graft] def bandedOf(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), wordsCol.as("ws"))
    val ex = base
      .repartition(Scratch.par(base)) // barrier: materialize ws
      .select(col("doc_id"), explode(shinglesFromWords(col("ws"))).as("s"))
      .select(col("doc_id"), md5(col("s")).as("dg"))
      .select(col("doc_id"), hex12ToLong(col("dg")).as("h"))
    val minCols = (0 until H).map(k =>
      min(col("h").bitwiseXOR(lit(Seeds(k)))).as(s"m$k"))
    val sigs = ex.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until Bands).map(b =>
      md5(concat(lit(s"$b|"),
        concat_ws(",", (0 until 4).map(i => col(s"m${b * 4 + i}")): _*))))
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("band_key"))
  }

  /** The band self-join over a `(doc_id, band_key)` relation. Both join
    * legs read `banded`. The STATIC plan shows two full signature
    * subtrees (no ReusedExchange), but AQE reuses the identical shuffle
    * stage at runtime — measured: an explicit localCheckpoint here is
    * SLOWER (q32 1.22→1.43 s, q55 2.41→2.58 s at sf0.1), so the
    * aliased legs stay un-materialized on purpose.
    */
  private def pairsFromBanded(banded: DataFrame): DataFrame = {
    val l = banded.select(col("doc_id").as("doc_a"), col("band_key"))
    val r = banded.select(col("doc_id").as("doc_b"), col("band_key"))
    l.join(r, "band_key")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy(col("n_shared_bands").desc, col("doc_a"), col("doc_b"))
  }

  /** C4-style content-normalization key — case-fold, collapse
    * non-alphanumerics, md5 — THE exact-dup identity shared by q61,
    * q69's incremental index, q79's audit bit and both StreamingCurate
    * legs. One spelling per engine: an edit here (e.g. unicode classes)
    * moves every consumer together instead of silently forking the
    * canonical-survivor decision between them.
    *
    * KNOWN cross-engine edge (the wordsCol discipline):
    * `lower()` on a row containing NON-ASCII bytes takes Spark's
    * String.toLowerCase slow path, which is JVM-default-locale
    * sensitive (the Turkish-I case maps 'I' to a dotless form DuckDB's
    * locale-independent utf8proc lower never produces) — norm_md5
    * could then differ between engine and oracle for such rows. The
    * corpus here is ASCII (the fast path, locale-free); a deployment
    * ingesting mixed-script text should pin the JVM locale (or fold
    * case upstream) before trusting cross-engine hash parity.
    */
  private[graft] def normMd5(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  private[graft] def normMd5Sql(expr: String): String =
    s"md5(trim(regexp_replace(lower($expr), '[^a-z0-9]+', ' ', 'g')))"

  /** The MinHash-signature and band-key SQL fragments every
    * LSH-family oracle shares (q32/q38/q39/q55/q67/q69) — ONE spelling,
    * so a change to H, the seeds, or the band digest cannot silently
    * fork one entry's oracle from the others.
    */
  private val sigSql = (0 until H).map(k =>
    s"MIN(xor(h, ${Seeds(k)})) AS m$k").mkString(", ")
  private val bandsSql = (0 until Bands).map(b =>
    s"md5('$b|' || " +
      (0 until 4).map(i => s"m${b * 4 + i}").mkString(" || ',' || ") + ")")
    .mkString("[", ", ", "]")

  private def q32(s: SparkSession, d: String): DataFrame =
    minhashPairs(Tables.documents(s, d))

  private val q32Sql = {
    s"""WITH docs AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
       |hs AS (SELECT doc_id, ${hex12ToLongSql("dg")} AS h
       |       FROM (SELECT doc_id, md5(s) AS dg FROM ex)),
       |sigs AS (SELECT doc_id, $sigSql FROM hs GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, unnest($bandsSql) AS band_key FROM sigs)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  COUNT(*) AS n_shared_bands
       |FROM banded a JOIN banded b
       |  ON a.band_key = b.band_key AND a.doc_id < b.doc_id
       |GROUP BY doc_a, doc_b
       |ORDER BY n_shared_bands DESC, doc_a, doc_b""".stripMargin
  }

  /** Hex digit value 0-15 — ascii-arithmetic so it stays inside lambda
    * expressions in both engines.
    */
  private[graft] def hexVal(c: Column): Column =
    when(ascii(c) <= 57, ascii(c) - 48).otherwise(ascii(c) - 87)

  private[graft] def hexValSql(c: String): String =
    s"(CASE WHEN ascii($c) <= 57 THEN ascii($c) - 48 ELSE ascii($c) - 87 END)"

  /** 64-bit SimHash over word tokens (multiset): per word take md5's first
    * 16 hex digits (64 bits); each bit contributes ±1; digest bit = sign of
    * the sum. Emitted as 16 hex chars. Explode → 64 partial sums (map-side
    * combine) → digest: one narrow shuffle of 64 ints per doc.
    */
  private def q33(s: SparkSession, d: String): DataFrame =
    simhashSigs(s, d).orderBy(col("doc_id"))

  /** The q33 signature relation WITHOUT the catalog entry's trailing
    * presentation sort — q58 consumes it unordered (its band join
    * destroys any order), so materializing q33 verbatim paid a full
    * range-partition sort per run for nothing.
    */
  private def simhashSigs(s: SparkSession, d: String): DataFrame = {
    // wordsCol, not a re-spelled \S+: SimHash must tokenize with the
    // same word class as the MinHash family or an edit to one silently
    // forks the two near-dup definitions
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(wordsCol).as("w"))
      .withColumn("h", md5(col("w")))
    val withDigits = (0 until 16).foldLeft(words) { (df, j) =>
      df.withColumn(s"v$j", hexVal(substring(col("h"), j + 1, 1)))
    }
    val sumCols = for (j <- 0 until 16; b <- 0 until 4) yield
      sum(shiftright(col(s"v$j"), b).bitwiseAND(1) * 2 - 1)
        .as(s"s_${j}_$b")
    val sums = withDigits.groupBy(col("doc_id"))
      .agg(sumCols.head, sumCols.tail: _*)
    val digitCols = (0 until 16).map { j =>
      (0 until 4).map(b =>
        when(col(s"s_${j}_$b") > 0, lit(1 << b)).otherwise(lit(0)))
        .reduce(_ + _)
    }
    val hexDigits = digitCols.map(dc =>
      lit("0123456789abcdef").substr(dc + 1, lit(1)))
    sums.select(col("doc_id"),
        concat(hexDigits: _*).as("simhash"))
  }

  // shared by q33 (signatures) and q58 (banded near-dup pairs)
  private val simSumsSql = (for (j <- 0 until 16; b <- 0 until 4) yield
    s"SUM(((${hexValSql(s"substring(md5(w), ${j + 1}, 1)")} >> $b) & 1) * 2 - 1) AS s_${j}_$b")
    .mkString(",\n    ")
  private val simDigitsSql = (0 until 16).map { j =>
    val v = (0 until 4)
      .map(b => s"(CASE WHEN s_${j}_$b > 0 THEN ${1 << b} ELSE 0 END)")
      .mkString(" + ")
    s"substring('0123456789abcdef', 1 + ($v), 1)"
  }.mkString(" || ")
  private val simhashCtesSql =
    s"""words AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS w
       |  FROM documents),
       |sums AS (
       |  SELECT doc_id,
       |    $simSumsSql
       |  FROM words GROUP BY doc_id),
       |sig AS (SELECT doc_id, $simDigitsSql AS simhash FROM sums)""".stripMargin

  private val q33Sql =
    s"""WITH $simhashCtesSql
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  private val SimBands = 4 // 4 bands × 16 bits over the 64-bit digest
  private val HamMax = 3 // banding makes recall EXACT at this radius

  /** SimHash near-dup pairs (q58): completes the q33 path — signatures
    * alone are not a dedup. Standard banded Hamming search: the 64-bit
    * digest splits into 4×16-bit bands (4 hex chars); by pigeonhole, a
    * pair with ≤3 differing bits MUST agree exactly on at least one
    * band, so the banded join returns EXACTLY the Hamming ≤ 3 pairs —
    * an index with provable, not sampled, recall.
    *
    * The digest converts to two 32-bit halves ONCE PER DOCUMENT (a
    * per-row fold in the signature stage), so the per-candidate Hamming
    * is two xor+bit_counts — the first spelling recomputed 16 hex-digit
    * popcounts from the strings per PAIR, a 96-reference expression tree
    * that fell out of whole-stage codegen and measured 12.3 s at sf0.1
    * vs ~2 s for this one. Join is band-key equality (hash-partitioned);
    * no all-pairs anywhere. Skewed stop-buckets (this corpus's small
    * vocabulary makes some bands hot) are a shuffle-skew concern, not a
    * correctness one — AQE skew handling or band-key salting spreads
    * them at scale.
    */
  private def q58(s: SparkSession, d: String): DataFrame = {
    // the 64-sum signature aggregation feeds both self-join legs —
    // store-backed, not recomputed per leg
    val sig = Scratch.materialize(simhashSigs(s, d), "q58_sig")
    def half(off: Int): Column = (0 until 8).map(j =>
      hexVal(substring(col("simhash"), off + j + 1, 1)).cast("long") *
        lit(1L << (4 * (7 - j)))).reduce(_ + _)
    val bands = sig
      .select(col("doc_id"), col("simhash"),
        half(0).as("hi"), half(8).as("lo"))
      .select(col("doc_id"), col("hi"), col("lo"),
        explode(array((0 until SimBands).map(b =>
          concat(lit(s"$b|"), substring(col("simhash"), b * 4 + 1, 4))): _*))
          .as("bk"))
    val cand = bands
      .select(col("doc_id").as("doc_a"), col("hi").as("hi_a"),
        col("lo").as("lo_a"), col("bk"))
      .join(bands.select(col("doc_id").as("doc_b"), col("hi").as("hi_b"),
        col("lo").as("lo_b"), col("bk")), "bk")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("hi_a"), col("lo_a"),
        col("hi_b"), col("lo_b"))
      .distinct()
    cand
      .select(col("doc_a"), col("doc_b"),
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= HamMax)
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
  }

  private val q58Sql = {
    def half(off: Int): String = "(" + (0 until 8).map(j =>
      s"CAST(${hexValSql(s"substring(simhash, ${off + j + 1}, 1)")} AS BIGINT)" +
        s" * ${1L << (4 * (7 - j))}").mkString(" + ") + ")"
    s"""WITH $simhashCtesSql,
       |sigl AS (
       |  SELECT doc_id, simhash, ${half(0)} AS hi, ${half(8)} AS lo
       |  FROM sig),
       |bands AS (
       |  SELECT doc_id, hi, lo,
       |    CAST(b AS VARCHAR) || '|' || substring(simhash, b * 4 + 1, 4) AS bk
       |  FROM sigl, (SELECT unnest(range(0, $SimBands)) AS b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
       |  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))
       |    AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= $HamMax
       |ORDER BY hamming, doc_a, doc_b""".stripMargin
  }

  /** Embedding cosine near-dup: blocked on `label` (coarse cluster id),
    * ordered fold for the dot product, rounded to 4 decimals, top-100 pairs.
    */
  private def q34(s: SparkSession, d: String): DataFrame = {
    val dot = (x: Column, y: Column) =>
      graft.functions.VectorFunctions.floatDot(x, y) // native codegen'd fold
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val a = e.select(col("vec_id").as("vec_a"), col("label"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("label"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, "label")
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("label"),
        round(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 4)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(100)
  }

  private val q34Sql = {
    import Similarity.dotSql // the ONE cosine-oracle spelling
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       |  round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) AS cosine
       |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |ORDER BY cosine DESC, vec_a, vec_b LIMIT 100""".stripMargin
  }

  /** The shared batch/streaming signature stage as its own oracle-gated
    * entry: `bandEntries` feeds the streaming band index
    * (`graft.streaming.StreamingDedup`), so its band keys are pinned
    * against the DuckDB twin independently of the q32 pair join.
    */
  private def q38(s: SparkSession, d: String): DataFrame =
    bandEntries(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .orderBy(col("band_key"), col("doc_id"))

  private val q38Sql = {
    s"""WITH docs AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
       |hs AS (SELECT doc_id, ${hex12ToLongSql("dg")} AS h
       |       FROM (SELECT doc_id, md5(s) AS dg FROM ex)),
       |sigs AS (SELECT doc_id, $sigSql FROM hs GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, unnest($bandsSql) AS band_key FROM sigs)
       |SELECT doc_id, band_key FROM banded ORDER BY band_key, doc_id""".stripMargin
  }

  /** Connected components over an undirected edge list `(a, b)`:
    * min-label propagation PLUS pointer jumping — each round every node
    * takes the min of its neighbors' labels (1 hop) and then chases its
    * own label one level (`label(label(v))`), so the distance a minimum
    * has travelled at least doubles per round and convergence is
    * O(log diameter), not O(diameter). A chain of 2^20 nodes converges
    * inside the 20-round cap; if the cap is somehow exhausted anyway the
    * routine FAILS LOUDLY rather than emit silently-wrong labels.
    * Per-round `Scratch.materialize` cuts the iterative lineage (an
    * unchecked loop of joins compounds the plan exponentially); the
    * convergence probe is a bounded driver boolean per round.
    */
  private[graft] def connectedComponents(pairs: DataFrame,
      maxRounds: Int = 20, tag: String = "cc"): DataFrame = {
    // scratch names are CALLER-keyed (the dekOf
    // discipline): four entry points route here, and in durable-
    // scratch mode a shared fixed name would let a later invocation's
    // loop overwrite the labels a still-lazy earlier result reads
    val edges = Scratch.materialize(
      pairs.unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
        .distinct(), s"${tag}_edges")
    var labels = Scratch.materialize(
      edges.select(col("a").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id")), s"${tag}_labels0")
    var converged = false
    var iter = 0
    while (!converged && iter < maxRounds) {
      val nbr = edges.join(labels, edges("b") === labels("doc_id"))
        .select(edges("a").as("doc_id"), col("cluster_id").as("nl"))
        .groupBy("doc_id").agg(min(col("nl")).as("nbrMin"))
      val prop = labels.withColumnRenamed("cluster_id", "old")
        .join(nbr, Seq("doc_id"), "left")
        .select(col("doc_id"), col("old"),
          least(col("old"), coalesce(col("nbrMin"), col("old"))).as("mid"))
      // pointer jump: labels are always node ids, so label(label(v)) is
      // resolvable against this same round's propagation result
      val jump = prop.select(col("doc_id").as("jid"), col("mid").as("jl"))
      // convergence rides the materialize job itself:
      // a `chg` column counts label changes into an accumulator WHILE
      // the round materializes, replacing the former per-round isEmpty
      // probe job. Task retries can only INFLATE the count (a retried
      // task re-adds), never deflate — and convergence tests exactly
      // zero, which retries cannot fabricate, so the loop's round
      // trajectory (and therefore the labels) is untouched. The column
      // must live in the materialized OUTPUT schema (localCheckpoint
      // evaluates every output column; a dropped column would be pruned
      // out of the plan and never counted) and is projected away after.
      val chgAcc = labels.sparkSession.sparkContext.longAccumulator(
        s"${tag}_chg_$iter")
      // asNondeterministic: the udf has a side effect (the
      // accumulator add), so pin the evaluate-once-per-output-row
      // contract — a deterministic udf could legally be eliminated,
      // duplicated, or reordered by a future Catalyst version
      val chgUdf = udf((o: Long, c: Long) => {
        if (o != c) chgAcc.add(1L)
        c
      }).asNondeterministic()
      val next = Scratch.materialize(
        prop.join(jump, prop("mid") === jump("jid"), "left")
          .select(prop("doc_id"),
            chgUdf(col("old"),
              least(col("mid"), coalesce(col("jl"), col("mid"))))
              .as("cluster_id")),
        s"${tag}_labels${(iter + 1) % 2 + 1}") // ping-pong scratch names
      converged = chgAcc.value == 0L
      // contract guard: round-1 convergence is only
      // legitimate for an EDGELESS input — any a<b edge lowers b's
      // label on round 1, so chgAcc == 0 here with a non-empty edge set
      // means Scratch.materialize did not eagerly evaluate the output
      // projection (a lazy scratch mode would silently truncate CC at
      // round 1 with wrong labels); fail loudly instead. The probe job
      // only runs in the empty-edge or broken case, never per round.
      if (converged && iter == 0)
        require(edges.isEmpty,
          "connectedComponents: convergence accumulator read 0 on " +
            "round 1 of a non-empty edge set — Scratch.materialize " +
            "must evaluate the materialized projection eagerly")
      labels = next.select(col("doc_id"), col("cluster_id"))
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          "(component diameter > 2^rounds): raise maxRounds")
    labels
  }

  /** Duplicate clustering (q39): see [[connectedComponents]]. */
  private def q39(s: SparkSession, d: String): DataFrame = {
    val pairs = q32(s, d).select(col("doc_a").as("a"), col("doc_b").as("b"))
    val labels = connectedComponents(pairs, tag = "q39cc")
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  private val q39Sql = {
    s"""WITH RECURSIVE docs AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
       |hs AS (SELECT doc_id, ${hex12ToLongSql("dg")} AS h
       |       FROM (SELECT doc_id, md5(s) AS dg FROM ex)),
       |sigs AS (SELECT doc_id, $sigSql FROM hs GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, unnest($bandsSql) AS band_key FROM sigs),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM banded a JOIN banded b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       |reach(n, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.n),
       |cluster AS (SELECT n AS doc_id, MIN(r) AS cluster_id
       |            FROM reach GROUP BY n)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM cluster ORDER BY cluster_id, doc_id""".stripMargin
  }

  /** Deterministic stratified sampling (q48) — the "build a training
    * mix with per-language quotas" step. Keep a document iff a salted
    * md5 of its id, folded to 48 bits, lands under the stratum's
    * per-mille rate. No RNG state, no shuffle: a broadcast rate table
    * and a codegen'd narrow filter over the scan, so the same 1% mix
    * falls out of a 100 TB run and its re-run — reproducibility is the
    * property that makes a sample auditable.
    */
  private val SampleRates = Seq(
    "en" -> 500L, "de" -> 250L, "fr" -> 250L, "es" -> 250L, "zh" -> 250L)

  private def q48(s: SparkSession, d: String): DataFrame = {
    val rates = broadcast(
      s.createDataFrame(SampleRates).toDF("lang", "rate_pm"))
    Tables.documents(s, d)
      .join(rates, "lang") // unknown langs: rate 0 ⇒ dropped
      .select(col("doc_id"), col("lang"), col("rate_pm"),
        hex12ToLong(md5(concat(lit("smp|"), col("doc_id").cast("string"))))
          .as("h"))
      .filter(col("h") % 1000 < col("rate_pm"))
      .select(col("doc_id"), col("lang"), col("rate_pm"))
      .orderBy(col("doc_id"))
  }

  private val q48Sql = {
    val values = SampleRates
      .map { case (l, r) => s"('$l', $r)" }.mkString(", ")
    s"""WITH rates(lang, rate_pm) AS (VALUES $values)
       |SELECT doc_id, d.lang, CAST(rate_pm AS BIGINT) AS rate_pm
       |FROM documents d JOIN rates USING (lang)
       |WHERE ${hex12ToLongSql("md5('smp|' || CAST(doc_id AS VARCHAR))")}
       |  % 1000 < rate_pm
       |ORDER BY doc_id""".stripMargin
  }

  /** (doc_id, n_shingles, s) rows: every distinct word n-gram of every
    * document, with the per-doc distinct-gram count riding along so no
    * later re-join against the (re-computed) gram subtree is needed.
    * Plain JVM flatMap rather than a `transform`/`concat_ws` lambda
    * chain for the same reason as [[bandKeysOf]]: array lambdas are
    * interpreted CodegenFallback, and an inlined words-regexp would
    * re-scan the text once per element_at — the spelled-out-expression
    * version of this stage measured 52 s at sf0.1 vs ~1 s for this one.
    */
  private[graft] def ngramEntries(docs: DataFrame, n: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val grams = gramsOf(text, n)
          grams.iterator.map(s => (id, grams.size, s))
        }
      }
      .toDF("doc_id", "n_shingles", "s")
  }

  /** Distinct word n-grams of ONE document — the single implementation
    * behind batch [[ngramEntries]] and the streaming curation audit's
    * per-row contamination check, so the two surfaces can never diverge
    * on tokenization or gram joining.
    */
  private[graft] def gramsOf(text: String, n: Int)
      : scala.collection.Set[String] = {
    if (text == null) return scala.collection.Set.empty // see bandKeysOf
    val words = WordRe.findAllIn(text).toArray
    val grams = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0
    while (i + n - 1 < words.length) {
      grams += words.slice(i, i + n).mkString(" "); i += 1
    }
    grams
  }

  private[graft] def ngramsSql(n: Int): String = {
    val parts = (0 until n).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
    s"""list_distinct(CASE WHEN len(ws) >= $n
       |  THEN list_transform(range(1, len(ws) - ${n - 2}), i -> $parts)
       |  ELSE [] END)""".stripMargin.replace("\n", " ")
  }

  /** Normalized ("fuzzy-exact") dedup (q61): the C4-style variant of q30
    * — case-fold, collapse every non-alphanumeric run to one space, trim,
    * THEN hash. Catches near-copies that differ only in casing,
    * punctuation, or whitespace, which byte-exact q30 misses. Same scale
    * shape as q30: one hash-groupBy, the shuffle carries (md5, doc_id)
    * pairs only — normalization is a codegen'd per-row expression chain.
    */
  private def q61(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        normMd5(col("text"))
          .as("norm_md5"))
      .groupBy(col("norm_md5"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .orderBy(col("norm_md5"))

  private val q61Sql =
    s"""SELECT ${normMd5Sql("text")}
      |    AS norm_md5,
      |  MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1 HAVING COUNT(*) > 1
      |ORDER BY norm_md5""".stripMargin

  private[graft] val DecontN = 8

  /** Benchmark decontamination (q54): flag every training document that
    * shares an exact word 8-gram with the held-out evaluation shard
    * (here: doc_id ≡ 3 mod 10 — a stand-in for "the benchmark suite").
    *
    * The scale shape is the point: benchmark suites are megabytes while
    * the corpus is 100 TB, so the eval shard's distinct-8-gram set is
    * BROADCAST and the corpus side is one narrow explode → broadcast-hash
    * semi-match → per-doc count. No shuffle of corpus text, no shuffle at
    * all on the corpus side until the tiny per-doc count aggregation;
    * per-doc shingle totals ride along through the explode instead of
    * re-joining the (re-computed) shingle subtree.
    */
  private def q54(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val ev = ngramEntries(docs.filter(col("doc_id") % 10 === 3), DecontN)
      .select(col("s")).distinct()
    val trx = ngramEntries(docs.filter(col("doc_id") % 10 =!= 3), DecontN)
    trx.join(broadcast(ev), "s")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_hits"), col("n_shingles"),
        round(col("n_hits").cast("double") / col("n_shingles"), 4)
          .as("hit_frac"))
      .orderBy(col("doc_id"))
  }

  private val q54Sql =
    s"""WITH docs AS (
       |  SELECT doc_id, ${ngramsSql(DecontN)} AS sh
       |  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |        FROM documents)),
       |ev AS (SELECT DISTINCT unnest(sh) AS s FROM docs WHERE doc_id % 10 = 3),
       |trx AS (SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS s
       |        FROM docs WHERE doc_id % 10 <> 3)
       |SELECT doc_id, COUNT(*) AS n_hits,
       |  CAST(n_shingles AS INTEGER) AS n_shingles,
       |  round(CAST(COUNT(*) AS DOUBLE) / n_shingles, 4) AS hit_frac
       |FROM trx JOIN ev USING (s)
       |GROUP BY doc_id, n_shingles ORDER BY doc_id""".stripMargin

  /** Bloom-pruned decontamination (q80) — VALUE-IDENTICAL to q54, in
    * the physical shape needed once the held-out suite itself is
    * large. q54 broadcasts the eval shard's exact distinct-gram set,
    * which holds while benchmark suites are megabytes; aggregate every
    * eval shard of every benchmark family and the exact strings
    * outgrow a broadcast. The standard two-phase answer, built from
    * Spark's own sketch machinery:
    *
    *   1. SUMMARIZE the eval grams as a Bloom filter
    *      (`DataFrameStatFunctions.bloomFilter` — the spark-sketch
    *      `BloomFilter` that runtime row-level filtering injects;
    *      ~6 bits/gram at 3% fpp vs ~50 BYTES for the exact string);
    *   2. PRUNE the corpus gram stream with `mightContainString` — a
    *      per-row hash probe in one narrow JVM filter stage (no false
    *      negatives, so no real hit is ever lost);
    *   3. EXACT-CONFIRM the survivors (true hits + ~fpp of the
    *      stream) against the exact gram relation in a join whose
    *      probe side is now ~fpp of the corpus, not the corpus.
    *
    * A false positive costs one wasted confirm-join row — never a
    * wrong verdict — which is why this plan hashes identically to
    * q54's broadcast-exact plan (the oracle IS q54's SQL). The bloom
    * build is driver-bounded by the sketch size (bits, not grams);
    * the one extra eval-side pass for `expectedNumItems` is
    * eval-shard-scale, not corpus-scale.
    */
  private def q80(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // materialized: the count, the bloom build and the exact-confirm
    // join each consume the eval gram relation — without this the
    // tokenize+explode+distinct subtree runs three times, on the very
    // shard q80 premises to be too large for comfort
    val ev = Scratch.materialize(
      ngramEntries(docs.filter(col("doc_id") % 10 === 3), DecontN)
        .select(col("s")).distinct(),
      "q80_ev")
    val nEv = math.max(ev.count(), 1L)
    val bf = s.sparkContext.broadcast(
      ev.stat.bloomFilter("s", nEv, 0.03))
    val trx = ngramEntries(docs.filter(col("doc_id") % 10 =!= 3), DecontN)
    val pruned = trx.as[(Long, Int, String)]
      .filter(r => bf.value.mightContainString(r._3))
      .toDF("doc_id", "n_shingles", "s")
    pruned.join(ev, "s")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_hits"), col("n_shingles"),
        round(col("n_hits").cast("double") / col("n_shingles"), 4)
          .as("hit_frac"))
      .orderBy(col("doc_id"))
  }

  /** Deduplicated-corpus manifest (q55): the end-to-end output a real
    * pipeline actually ships — every document tagged with its duplicate
    * cluster and whether it is the cluster's canonical survivor
    * (min doc_id). Chains the catalog's own stages: MinHash/LSH candidate
    * pairs (q32) → connected components (q39's pointer-jumping CC) →
    * left join back onto the corpus (docs outside any cluster are their
    * own canonical singleton). Only (doc_id, label) pairs flow through
    * the final join; a `keep = is_canonical` filter on this manifest IS
    * the deduplicated 100 TB corpus.
    */
  private def q55(s: SparkSession, d: String): DataFrame = {
    val pairs = q32(s, d).select(col("doc_a").as("a"), col("doc_b").as("b"))
    val labels = connectedComponents(pairs, tag = "q55cc")
      .withColumnRenamed("cluster_id", "label")
    Tables.documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("cluster_id") === col("doc_id"))
      .orderBy(col("doc_id"))
  }

  private val q55Sql = {
    s"""WITH RECURSIVE docs AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
       |hs AS (SELECT doc_id, ${hex12ToLongSql("dg")} AS h
       |       FROM (SELECT doc_id, md5(s) AS dg FROM ex)),
       |sigs AS (SELECT doc_id, $sigSql FROM hs GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, unnest($bandsSql) AS band_key FROM sigs),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM banded a JOIN banded b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       |reach(n, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.n),
       |cluster AS (SELECT n AS doc_id, MIN(r) AS label
       |            FROM reach GROUP BY n)
       |SELECT d.doc_id, COALESCE(label, d.doc_id) AS cluster_id,
       |  COALESCE(label, d.doc_id) = d.doc_id AS is_canonical
       |FROM documents d LEFT JOIN cluster c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Tokens per training sequence (q62) and pack shards. Locally 8
    * shards; at 100 TB the shard count is sized so one shard ≈ one
    * output file (tens of thousands) — the parameter scales the
    * parallelism, not the algorithm.
    */
  /** THE training-token regex (q20's "BPE-ish" class) — one spelling
    * shared by packing (q62/q67/q87/q98), mixture budgets (q68),
    * tensors (q75), token counts (q20), and the streaming twins: a
    * tokenizer tweak must move every n_tok consumer together, which
    * eight hand-copies across four files could not guarantee.
    */
  private[graft] val PackTokRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  private[graft] val PackBudget = 2048L
  private[graft] val PackShards = 8L

  /** Sequence packing (q62) — the GPT-style concat-then-chunk step that
    * turns a document corpus into fixed-token-budget training sequences.
    * Every doc is assigned a shard (salted hash of doc_id), docs
    * concatenate in doc_id order within their shard, and the resulting
    * token stream slices into `PackBudget`-token sequences; a doc
    * belongs to the sequence where it STARTS (`seq_no`) at offset
    * `seq_off`.
    *
    * Scale shape: the only sequential dependency — the running token
    * sum — is PER SHARD (one window partitioned by shard, no global
    * sort, no driver loop), which is exactly how real pipelines pack:
    * each shard is one writer's output file, shards are embarrassingly
    * parallel, and the assignment is deterministic so a re-run ships
    * byte-identical training shards. Token counts use q20's BPE-ish
    * regex; only (doc_id, n_tok, shard) ever shuffles — text never
    * moves.
    */
  /** The q62 token/shard projection: `(doc_id, text)` →
    * `(doc_id, n_tok, shard)` — after this narrow map, text is no
    * longer needed by the packing path (q67 exploits that to keep text
    * out of every one of its exchanges).
    */
  private[graft] def packToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"),
        lit(PackTokRe), lit(0)))
        .cast("long").as("n_tok"),
      (hex12ToLong(md5(concat(lit("pack|"), col("doc_id").cast("string"))))
        % PackShards).as("shard"))

  /** The q62 packing windows over a `(doc_id, n_tok, shard)` relation —
    * shared by q62 (full corpus) and q67 (canonical survivors).
    */
  private[graft] def packFromToks(toks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
      .select(col("doc_id"), col("shard"),
        expr(s"start_off div $PackBudget").as("seq_no"),
        (col("start_off") % PackBudget).as("seq_off"),
        col("n_tok"))
      .orderBy(col("doc_id"))
  }

  private def q62(s: SparkSession, d: String): DataFrame =
    packFromToks(packToks(Tables.documents(s, d)))

  /** The stateless token/shard projection for the STREAMING packer
    * (`graft.streaming.StreamingPack`) — bit-identical to q62's batch
    * stage, the bandEntries pattern.
    */
  def packTokEntries(docs: DataFrame): DataFrame = packToks(docs)

  private val q62Sql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text,
       |      '$PackTokRe')) AS BIGINT) AS n_tok,
       |    ${hex12ToLongSql("md5('pack|' || CAST(doc_id AS VARCHAR))")}
       |      % $PackShards AS shard
       |  FROM documents),
       |offs AS (
       |  SELECT doc_id, shard, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
       |      AS start_off
       |  FROM toks)
       |SELECT doc_id, shard,
       |  CAST(start_off // $PackBudget AS BIGINT) AS seq_no,
       |  CAST(start_off % $PackBudget AS BIGINT) AS seq_off, n_tok
       |FROM offs ORDER BY doc_id""".stripMargin

  private val ExactK = 8 // tokens per exact-substring unit

  /** (doc_id, pos, g): every word `n`-gram of every document WITH its
    * start position, non-distinct — q64 needs positions to merge
    * duplicated grams into spans, where [[ngramEntries]] deliberately
    * dedups. Same plain-JVM flatMap rationale (interpreted-HOF trap).
    */
  private[graft] def posGramEntries(docs: DataFrame, n: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          // null text: emit nothing, like the oracle's regexp_extract_all
          // (bandKeysOf's r07 poison-row guard, applied here too — r08)
          val words =
            if (text == null) Array.empty[String]
            else WordRe.findAllIn(text).toArray
          (0 to words.length - n).iterator.map(i =>
            (id, i.toLong, words.slice(i, i + n).mkString(" ")))
        }
      }
      .toDF("doc_id", "pos", "g")
  }

  /** Exact duplicated-substring spans (q64) — the fixed-k re-expression
    * of suffix-array ExactSubstr dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): every maximal token
    * span whose every `ExactK`-gram also appears in at least one OTHER
    * document. Real pipelines CUT these spans rather than dropping the
    * whole document — this is the operator q30/q61 (whole-doc hashes)
    * cannot express.
    *
    * Scale shape: grams hash to 48-bit longs in the SCAN stage, so the
    * duplicated-gram groupBy and the join back shuffle (doc_id, pos, h)
    * triples only — corpus text never moves (audited). Span merging is
    * the islands-and-gaps trick: one per-document window
    * (pos − row_number), no self-join, no iteration. A 48-bit collision
    * (~N²/2⁴⁹ for N distinct grams) can only ADD a false duplicate
    * span — both engines hash identically so the oracle still binds;
    * widen to two hash columns at real corpus scale.
    */
  private def q64(s: SparkSession, d: String): DataFrame = {
    val grams = posGramEntries(Tables.documents(s, d), ExactK)
      .select(col("doc_id"), col("pos"), hex12ToLong(md5(col("g"))).as("h"))
    // feeds the dup aggregation AND the position join — one execution
    val hs = Scratch.materialize(grams, "q64_grams")
    val dup = hs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hs.join(dup, "h")
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + ExactK).as("span_toks"))
      .select(col("doc_id"), col("span_start"), col("span_toks"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  private val q64Sql = {
    val parts = (0 until ExactK).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
    s"""WITH docs AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, ws,
       |    unnest(range(1, greatest(len(ws) - ${ExactK - 2}, 1))) AS i
       |  FROM docs),
       |grams AS (SELECT doc_id, i - 1 AS pos, md5($parts) AS dg FROM pos),
       |hs AS (SELECT doc_id, pos, ${hex12ToLongSql("dg")} AS h FROM grams),
       |dup AS (SELECT h FROM hs GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
       |isl AS (
       |  SELECT doc_id, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM hs JOIN dup USING (h))
       |SELECT doc_id, MIN(pos) AS span_start,
       |  MAX(pos) - MIN(pos) + $ExactK AS span_toks
       |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin
  }

  private val SourceCap = 100
  private val CapSalts = 16L

  /** Skew-safe per-source quota cap (q63) — keep at most `SourceCap`
    * documents per source (longest first, doc_id tie-break): the
    * standard "don't let one domain dominate the mix" stage.
    *
    * A single `ROW_NUMBER() OVER (PARTITION BY source)` is a skew trap
    * at 100 TB: one hot domain becomes one straggler task holding the
    * domain's every row. This runs the q52 salting idea through a
    * window instead: phase 1 ranks within (source, doc_id % CapSalts)
    * and keeps each salt's top `SourceCap` — correct because any
    * global top-N row is necessarily in its salt group's top N under
    * the same total order — so the phase-2 per-source window sees at
    * most CapSalts × SourceCap rows per source regardless of how hot
    * the domain is. The oracle is the single-phase SQL: the two-phase
    * plan must be value-identical, which is what makes the optimization
    * checkable.
    */
  private def q63(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val w1 = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(CapSalts)))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val pruned = base.withColumn("rn1", row_number().over(w1))
      .filter(col("rn1") <= SourceCap).drop("rn1")
    val w2 = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    pruned.withColumn("rank_in_source", row_number().over(w2))
      .filter(col("rank_in_source") <= SourceCap)
      .orderBy(col("source"), col("rank_in_source"))
  }

  private val q63Sql =
    s"""SELECT doc_id, source, n_chars, rank_in_source FROM (
       |  SELECT doc_id, source, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id) AS rank_in_source
       |  FROM documents)
       |WHERE rank_in_source <= $SourceCap
       |ORDER BY source, rank_in_source""".stripMargin

  private[graft] val DecontMax = 0.05 // max eval-8-gram hit fraction to keep

  /** End-to-end pipeline manifest (q67) — the capstone composition:
    * corpus in, packed training-shard assignments out, as ONE
    * declarative plan the cross-engine oracle checks end to end.
    *
    *   1. QUALITY (q21's thresholds): length ≥ 100, punct ratio < 0.1,
    *      stopword ratio > 0.01.
    *   2. DECONTAMINATION (q54): drop the eval shard itself
    *      (doc_id % 10 == 3) and any training doc sharing > DecontMax
    *      of its 8-grams with the eval shard's broadcast gram set.
    *   3. DEDUP (q32 → q39): MinHash/LSH candidate pairs over the
    *      survivors, connected components, keep each cluster's
    *      canonical (min doc_id) member.
    *   4. PACK (q62): concat-then-chunk the canonical survivors into
    *      2048-token training sequences, per shard.
    *
    * Every stage keeps its catalog shape (broadcast eval set, banded
    * pair join, pointer-jumping CC, per-shard packing windows), so the
    * composed plan inherits every audited scale property; the composed
    * DuckDB oracle (quality predicate + gram CTEs + recursive-CTE
    * components + packing windows) pins the whole pipeline's VALUES,
    * not just each stage's. The survivors relation feeds three
    * downstream consumers — materialized once.
    */
  /** The quality+decontamination front half shared by q67 and the
    * suffix-composed q98 (one definition — a hand-copy of the quality
    * thresholds or the gram rule would silently diverge the two
    * composed oracles): q21-threshold quality filter, then drop the
    * eval shard and any training doc sharing > DecontMax of its
    * 8-grams with the eval shard's broadcast gram set. Returns the
    * materialized `(doc_id, text)` survivors.
    */
  private[graft] def dekOf(s: SparkSession, d: String,
      scratchName: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val qual = docs.filter(TextAnalysis.qualityOkOn(col("text")))
    // trx materialized: feeds the gram/hits leg AND the survivor join —
    // without the barrier the three quality regexes re-run over the
    // full corpus once per leg (the q31 multi-leg
    // discipline). Measured perf-neutral at sf0.1 (regex recompute ≈
    // survivor-text checkpoint cost locally); kept for the cluster
    // shape, where one columnar re-read beats a second full regex pass
    // over corpus text. The eval-shard gram scan (UNFILTERED eval —
    // the benchmark is external, quality filtering does not apply) is
    // an independent corpus pass — it overlaps the trx materialize on
    // a driver thread (guide §2.6) and broadcasts exactly as the
    // lazy subtree did.
    val (trx, ev) = Overlap.pair(
      Scratch.materialize(
        qual.filter(col("doc_id") % 10 =!= 3)
          .select(col("doc_id"), col("text")),
        scratchName + "_trx"),
      Scratch.materialize(
        ngramEntries(docs.filter(col("doc_id") % 10 === 3), DecontN)
          .select(col("s")).distinct(),
        scratchName + "_ev").toDF("s"))
    val hits = ngramEntries(trx, DecontN)
      .join(broadcast(ev), "s")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_hits"))
    Scratch.materialize(
      trx.select(col("doc_id"), col("text"))
        .join(hits.select(col("doc_id"), col("n_hits"), col("n_shingles")),
          Seq("doc_id"), "left")
        .filter(col("n_hits").isNull ||
          col("n_hits").cast("double") / col("n_shingles") <= DecontMax)
        .select(col("doc_id"), col("text")),
      scratchName)
  }

  private def q67(s: SparkSession, d: String): DataFrame = {
    val dek = dekOf(s, d, "q67_dek")
    val pairs = minhashPairs(dek)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val labels = connectedComponents(pairs, tag = "dekcc")
      .withColumnRenamed("cluster_id", "label")
    // token counts project out BEFORE the label join, so text is gone
    // by the first exchange of the canonical/packing path
    val canon = packToks(dek).join(labels, Seq("doc_id"), "left")
      .filter(coalesce(col("label"), col("doc_id")) === col("doc_id"))
      .select(col("doc_id"), col("n_tok"), col("shard"))
    packFromToks(canon)
  }

  /** The q67/q98 quality+decont front half as DuckDB CTE text (`qual`/
    * `evd`/`ev`/`trxd`/`hits`/`dek`) — the oracle twin of [[dekOf]],
    * shared so both composed pipelines pin the SAME survivor set.
    */
  private[graft] val dekSqlCtes =
    s"""qual AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE ${TextAnalysis.qualityOkSql("text")}),
       |evd AS (
       |  SELECT doc_id, ${ngramsSql(DecontN)} AS sh
       |  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |        FROM documents WHERE doc_id % 10 = 3)),
       |ev AS (SELECT DISTINCT unnest(sh) AS s FROM evd),
       |trxd AS (
       |  SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS s
       |  FROM (SELECT doc_id, ${ngramsSql(DecontN)} AS sh
       |        FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |              FROM qual WHERE doc_id % 10 <> 3))),
       |hits AS (
       |  SELECT doc_id, n_shingles, COUNT(*) AS n_hits
       |  FROM trxd JOIN ev USING (s) GROUP BY doc_id, n_shingles),
       |dek AS (
       |  SELECT q.doc_id, q.text
       |  FROM qual q LEFT JOIN hits h ON h.doc_id = q.doc_id
       |  WHERE q.doc_id % 10 <> 3
       |    AND (h.n_hits IS NULL
       |         OR CAST(h.n_hits AS DOUBLE) / h.n_shingles <= $DecontMax))""".stripMargin

  private val q67Sql = {
    s"""WITH RECURSIVE $dekSqlCtes,
       |mh AS (SELECT doc_id, $shinglesSql AS sh FROM dek),
       |mex AS (SELECT doc_id, unnest(sh) AS s FROM mh),
       |mhs AS (SELECT doc_id, ${hex12ToLongSql("dg")} AS h
       |        FROM (SELECT doc_id, md5(s) AS dg FROM mex)),
       |sigs AS (SELECT doc_id, $sigSql FROM mhs GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, unnest($bandsSql) AS band_key FROM sigs),
       |cpairs AS (
       |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM banded a JOIN banded b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |edges AS (SELECT a, b FROM cpairs UNION SELECT b, a FROM cpairs),
       |reach(n, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.n),
       |cluster AS (SELECT n AS doc_id, MIN(r) AS label
       |            FROM reach GROUP BY n),
       |canon AS (
       |  SELECT d.doc_id, d.text
       |  FROM dek d LEFT JOIN cluster c ON c.doc_id = d.doc_id
       |  WHERE COALESCE(c.label, d.doc_id) = d.doc_id),
       |ptoks AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text,
       |      '$PackTokRe')) AS BIGINT) AS n_tok,
       |    ${hex12ToLongSql("md5('pack|' || CAST(doc_id AS VARCHAR))")}
       |      % $PackShards AS shard
       |  FROM canon),
       |offs AS (
       |  SELECT doc_id, shard, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
       |      AS start_off
       |  FROM ptoks)
       |SELECT doc_id, shard,
       |  CAST(start_off // $PackBudget AS BIGINT) AS seq_no,
       |  CAST(start_off % $PackBudget AS BIGINT) AS seq_off, n_tok
       |FROM offs ORDER BY doc_id""".stripMargin
  }

  /** Per-source token budgets for q68 — the mixture spec a real run
    * derives from its data-mixing weights (DoReMi/Pile-style). Integer
    * token budgets, not float fractions, so the cross-engine gate is
    * exact.
    */
  private[graft] val MixBudgets: Seq[(String, Long)] =
    (0 until 20).map(i => (s"src$i", ((i % 4) + 1) * 500L))
  private[graft] val MixSalts = 8L

  /** The q68 token/order projection for the STREAMING admission
    * controller (`graft.streaming.StreamingMix`) and its convergence
    * spec: (doc_id, source, n_tok, h, salt) with q68's exact hash and
    * salt — the batch sampler's (salt, h, doc_id) order is the stream
    * order that reproduces it.
    */
  def mixTokEntries(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      size(regexp_extract_all(col("text"),
        lit(PackTokRe), lit(0)))
        .cast("long").as("n_tok"),
      hex12ToLong(md5(concat(lit("mix|"), col("doc_id").cast("string"))))
        .as("h"))
      .withColumn("salt", col("h") % MixSalts)

  /** Token-budget mixture sampling (q68) — the data-MIXING stage: each
    * source contributes documents, in a deterministic pseudo-random
    * order, until its token budget is spent (a document is taken iff it
    * STARTS inside the budget). This is how a training mix ("x% web,
    * y% wiki, z% code") is actually materialized.
    *
    * Scale shape: the naive spelling is one running-sum window per
    * source ordered by a salted hash — a skew trap (one hot source =
    * one straggler task holding every row, the q63 problem but for
    * prefix sums, which per-salt top-N pruning cannot fix). Instead the
    * global per-source order is defined as (salt, h, doc_id) and the
    * prefix sum splits TWO-LEVEL, the q62 shard idea applied to
    * sampling: per-(source, salt) token totals (a tiny aggregate —
    * sources × MixSalts rows) prefix-sum into each salt's starting
    * offset, which broadcasts back onto a per-(source, salt) window. No
    * partition ever holds more than ~1/MixSalts of a source, budgets
    * are a broadcast literal table, and only (doc_id, source, n_tok, h)
    * ever shuffles — text never moves. The oracle is the single-window
    * spelling: the two-level plan must be value-identical, which is
    * what makes the rewrite checkable.
    */
  private def q68(s: SparkSession, d: String): DataFrame =
    mixSelect(s, mixTokEntries(Tables.documents(s, d)), MixBudgets)

  /** The q68 two-level prefix-sum selection over an arbitrary
    * (doc_id, source, n_tok, h, salt) relation — factored out so
    * CurationSpec can fuzz its equivalence with the straight-line
    * single-order spelling on random inputs, not just the fixed corpus.
    */
  private[graft] def mixSelect(s: SparkSession, toks: DataFrame,
      budgetRows: Seq[(String, Long)]): DataFrame = {
    val budgets = broadcast(
      s.createDataFrame(budgetRows).toDF("source", "budget_toks"))
    // two-level prefix sum: salt totals are sources × MixSalts rows
    val saltW = Window.partitionBy(col("source")).orderBy(col("salt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val saltOff = toks.groupBy(col("source"), col("salt"))
      .agg(sum(col("n_tok")).as("tot"))
      .withColumn("salt_start", sum(col("tot")).over(saltW) - col("tot"))
      .select(col("source"), col("salt"), col("salt_start"))
    val localW = Window.partitionBy(col("source"), col("salt"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("local_off", sum(col("n_tok")).over(localW) - col("n_tok"))
      .join(broadcast(saltOff), Seq("source", "salt"))
      .join(budgets, "source")
      .withColumn("start_off", col("salt_start") + col("local_off"))
      .filter(col("start_off") < col("budget_toks"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("start_off"))
      .orderBy(col("doc_id"))
  }

  private val q68Sql = {
    val values = MixBudgets
      .map { case (src, b) => s"('$src', ${b}::BIGINT)" }.mkString(", ")
    s"""WITH b(source, budget_toks) AS (VALUES $values),
       |toks AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text,
       |      '$PackTokRe')) AS BIGINT) AS n_tok,
       |    ${hex12ToLongSql("md5('mix|' || CAST(doc_id AS VARCHAR))")} AS h
       |  FROM documents),
       |offs AS (
       |  SELECT doc_id, source, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY source
       |      ORDER BY h % $MixSalts, h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
       |      AS start_off
       |  FROM toks)
       |SELECT doc_id, source, n_tok,
       |  CAST(start_off AS BIGINT) AS start_off
       |FROM offs JOIN b USING (source)
       |WHERE start_off < budget_toks
       |ORDER BY doc_id""".stripMargin
  }

  /** Incremental (delta-vs-index) dedup (q69): the operational shape of
    * dedup at 100 TB — the corpus is already ingested and indexed; a
    * new batch must be checked against it WITHOUT re-deduplicating the
    * world. Frozen corpus = doc_id ≡ 0,1,2 (mod 10); delta = the rest.
    * Every delta document reports its exact duplicate in the index
    * (normalized q61 hash), its nearest near-duplicate (shared MinHash
    * band — the q32/q38 banding), or `is_new`.
    *
    * Scale shape: in production the frozen side IS the stored index
    * (norm-hash table + band table, partitioned by key) — here both are
    * derived in-plan from the same table, in ONE signature pass over
    * the full corpus (band keys are per-document, so computing them
    * once and filtering is identical to two passes), materialized and
    * filtered both ways. The delta joins shuffle only (hash, doc_id) /
    * (band_key, doc_id) pairs; delta-side text never moves, index-side
    * text was never read.
    */
  private def q69(s: SparkSession, d: String): DataFrame = {
    val isFrozen = col("doc_id") % 10 < 3
    val docs = Tables.documents(s, d)
    val norm = docs.select(col("doc_id"),
      normMd5(col("text"))
        .as("norm_md5"))
    val exactIdx = norm.filter(isFrozen)
      .groupBy(col("norm_md5")).agg(min(col("doc_id")).as("idx_doc"))
    val exact = norm.filter(!isFrozen)
      .join(exactIdx, Seq("norm_md5"), "left")
      .select(col("doc_id"), col("idx_doc").as("exact_of"))
    // one signature pass over the corpus feeds both the frozen index
    // and the delta probe (the two legs filter differently, so the
    // static plan would otherwise compute the signatures twice)
    val bands = Scratch.materialize(
      bandEntries(docs.select(col("doc_id"), col("text"))), "q69_bands")
    val near = bands.filter(!isFrozen)
      .join(bands.filter(isFrozen)
        .select(col("band_key"), col("doc_id").as("idx_doc")), "band_key")
      .groupBy(col("doc_id")).agg(min(col("idx_doc")).as("near_of"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_of"), lit(-1L)).as("exact_of"),
        coalesce(col("near_of"), lit(-1L)).as("near_of"))
      .withColumn("is_new",
        col("exact_of") === -1L && col("near_of") === -1L)
      .orderBy(col("doc_id"))
  }

  private val q69Sql = {
    s"""WITH docs AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
       |hs AS (SELECT doc_id, ${hex12ToLongSql("dg")} AS h
       |       FROM (SELECT doc_id, md5(s) AS dg FROM ex)),
       |sigs AS (SELECT doc_id, $sigSql FROM hs GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, unnest($bandsSql) AS band_key FROM sigs),
       |norm AS (
       |  SELECT doc_id,
       |    ${normMd5Sql("text")}
       |      AS norm_md5
       |  FROM documents),
       |exact_idx AS (
       |  SELECT norm_md5, MIN(doc_id) AS idx_doc FROM norm
       |  WHERE doc_id % 10 < 3 GROUP BY norm_md5),
       |near AS (
       |  SELECT d.doc_id, MIN(f.doc_id) AS near_of
       |  FROM banded d JOIN banded f ON d.band_key = f.band_key
       |  WHERE d.doc_id % 10 >= 3 AND f.doc_id % 10 < 3
       |  GROUP BY d.doc_id)
       |SELECT n.doc_id,
       |  COALESCE(idx_doc, -1) AS exact_of,
       |  COALESCE(near_of, -1) AS near_of,
       |  COALESCE(idx_doc, -1) = -1 AND COALESCE(near_of, -1) = -1 AS is_new
       |FROM norm n
       |LEFT JOIN exact_idx USING (norm_md5)
       |LEFT JOIN near ON near.doc_id = n.doc_id
       |WHERE n.doc_id % 10 >= 3
       |ORDER BY n.doc_id""".stripMargin
  }

  /** The frozen LEXICAL dedup index as a value: the exact-identity
    * table (norm_md5 → lowest owning doc) and the MinHash band table
    * (band_key → doc). q69 probes this shape in-plan; q100–q103 keep it
    * as [[Partials]] so a verified delta batch promotes into the stored
    * index WITHOUT rebuilding it from corpus text (the operation a
    * rolling 100 TB corpus runs daily), and a bad batch demotes again.
    */
  private[graft] final case class LexIndex(exact: DataFrame, bands: DataFrame)

  /** Build the index from a document relation (per-doc signatures +
    * one min-aggregate): the from-scratch path, used once at bootstrap
    * and as the spec's equivalence oracle.
    */
  private[graft] def buildLexIndex(docs: DataFrame): LexIndex = LexIndex(
    docs.select(normMd5(col("text")).as("norm_md5"), col("doc_id"))
      .groupBy(col("norm_md5")).agg(min(col("doc_id")).as("idx_doc")),
    bandEntries(docs.select(col("doc_id"), col("text"))))

  /** The stored lexical relations' schemas ([[Partials.read]]). */
  private[graft] val LexShape = Map(
    "exact" -> "norm_md5 STRING, idx_doc BIGINT, batch_id BIGINT",
    "bands" -> "doc_id BIGINT, band_key STRING, batch_id BIGINT")

  /** The lexical partials of `docs`, each row in batch `batch` (over
    * doc_id): `exact` keeps per-(norm_md5, batch) partial mins instead
    * of one collapsed min — a plain min is not subtractable, per-batch
    * partials are — and `bands` is append-only (band keys are
    * per-document). Frozen text is never read again: later promotes
    * union their own partials in. `batch` is a grouping EXPRESSION,
    * not a projected column: Catalyst drops a literal grouping
    * expression, so a streaming promote's `lit(id)` leaves the plain
    * per-norm_md5 min (a projected literal would stay a shuffle key of
    * every micro-batch's build).
    */
  private[graft] def lexPartials(docs: DataFrame, batch: Column): Partials =
    Partials(Seq(
      "exact" -> docs.select(normMd5(col("text")).as("norm_md5"),
          col("doc_id"))
        .groupBy(col("norm_md5"), batch.as("batch_id"))
        .agg(min(col("doc_id")).as("idx_doc"))
        .select(col("norm_md5"), col("idx_doc"), col("batch_id")),
      "bands" -> bandEntries(docs.select(col("doc_id"), col("text")))
        .withColumn("batch_id", batch)))

  /** Collapse surviving partials to the probe shape: min over each key's
    * batch partials (a per-key group of batches, not of documents).
    */
  private[graft] def collapseLex(p: Partials): LexIndex =
    LexIndex(
      p("exact").groupBy(col("norm_md5")).agg(min(col("idx_doc")).as("idx_doc")),
      p("bands").select(col("band_key"), col("doc_id")))

  /** q69's probe contract over an explicit index value: every probe doc
    * reports its exact duplicate, nearest banded near-duplicate, or
    * `is_new`. Only (hash, id) / (band_key, id) pairs shuffle.
    */
  private[graft] def probeLex(idx: LexIndex, probeDocs: DataFrame)
      : DataFrame = {
    val exact = probeDocs
      .select(col("doc_id"), normMd5(col("text")).as("norm_md5"))
      .join(idx.exact, Seq("norm_md5"), "left")
      .select(col("doc_id"), col("idx_doc").as("exact_of"))
    val near = bandEntries(probeDocs.select(col("doc_id"), col("text")))
      .join(idx.bands.select(col("band_key"), col("doc_id").as("idx_doc")),
        "band_key")
      .groupBy(col("doc_id")).agg(min(col("idx_doc")).as("near_of"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_of"), lit(-1L)).as("exact_of"),
        coalesce(col("near_of"), lit(-1L)).as("near_of"))
      .withColumn("is_new",
        col("exact_of") === -1L && col("near_of") === -1L)
      .orderBy(col("doc_id"))
  }

  /** Frozen-index MERGE equivalence (q100): the lexical partials of the
    * frozen third (doc_id ≡ 0,1,2 mod 10) as batch 0 and the next batch
    * (≡ 3,4,5) as batch 1, all batches stored at once (the stand-in for
    * the bucketed index tables a deployment keeps) in one scan, then a
    * third batch (≡ 6..9) probes the collapsed index — the per-key min
    * over batch partials IS the merge. The DuckDB oracle answers the
    * same probe against an index REBUILT from scratch over frozen∪delta
    * — the hash gate IS the merged ≡ rebuilt proof, which is exactly
    * what lets a 100 TB deployment promote daily batches without ever
    * re-indexing the corpus.
    */
  private def q100(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val m = col("doc_id") % 10
    // the merge consumes stored INDEX STATE, provably not frozen text
    val stored = lexPartials(docs.filter(m < 6),
      when(m < 3, lit(0L)).otherwise(lit(1L))).store("q100")
    probeLex(collapseLex(stored), docs.filter(m >= 6))
  }

  private val q100Sql = {
    s"""WITH docs AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
       |hs AS (SELECT doc_id, ${hex12ToLongSql("dg")} AS h
       |       FROM (SELECT doc_id, md5(s) AS dg FROM ex)),
       |sigs AS (SELECT doc_id, $sigSql FROM hs GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, unnest($bandsSql) AS band_key FROM sigs),
       |norm AS (
       |  SELECT doc_id,
       |    ${normMd5Sql("text")}
       |      AS norm_md5
       |  FROM documents),
       |exact_idx AS (
       |  SELECT norm_md5, MIN(doc_id) AS idx_doc FROM norm
       |  WHERE doc_id % 10 < 6 GROUP BY norm_md5),
       |near AS (
       |  SELECT d.doc_id, MIN(f.doc_id) AS near_of
       |  FROM banded d JOIN banded f ON d.band_key = f.band_key
       |  WHERE d.doc_id % 10 >= 6 AND f.doc_id % 10 < 6
       |  GROUP BY d.doc_id)
       |SELECT n.doc_id,
       |  COALESCE(idx_doc, -1) AS exact_of,
       |  COALESCE(near_of, -1) AS near_of,
       |  COALESCE(idx_doc, -1) = -1 AND COALESCE(near_of, -1) = -1 AS is_new
       |FROM norm n
       |LEFT JOIN exact_idx USING (norm_md5)
       |LEFT JOIN near ON near.doc_id = n.doc_id
       |WHERE n.doc_id % 10 >= 6
       |ORDER BY n.doc_id""".stripMargin
  }

  /** Frozen-index RETRACTION equivalence (q102) — the lifecycle q100
    * cannot run backwards: the frozen third (doc_id ≡ 0,1,2 mod 10) as
    * batch 0, batch 1 (≡ 3,4) and batch 2 (≡ 5,6), all batches stored
    * at once partitioned by batch_id, then RETRACT batch 2 (the "bad
    * data found after promote" event) and probe the remainder (≡ 7,8,9)
    * against the demoted index. The DuckDB oracle probes an index
    * REBUILT from scratch over only batches 0∪1 — the hash gate is the
    * demoted ≡ rebuilt-without proof, the retraction analogue of q100's
    * merged ≡ rebuilt.
    */
  private def q102(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val m = col("doc_id") % 10
    // the stored index: retraction consumes partitioned INDEX STATE —
    // batch 2's files are pruned out, frozen text is never read
    val stored = lexPartials(docs.filter(m < 7),
      when(m < 3, lit(0L)).when(m < 5, lit(1L)).otherwise(lit(2L)))
      .store("q102")
    probeLex(collapseLex(stored.retract(2L)), docs.filter(m >= 7))
  }

  private val q102Sql = {
    s"""WITH docs AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
       |hs AS (SELECT doc_id, ${hex12ToLongSql("dg")} AS h
       |       FROM (SELECT doc_id, md5(s) AS dg FROM ex)),
       |sigs AS (SELECT doc_id, $sigSql FROM hs GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, unnest($bandsSql) AS band_key FROM sigs),
       |norm AS (
       |  SELECT doc_id,
       |    ${normMd5Sql("text")}
       |      AS norm_md5
       |  FROM documents),
       |exact_idx AS (
       |  SELECT norm_md5, MIN(doc_id) AS idx_doc FROM norm
       |  WHERE doc_id % 10 < 5 GROUP BY norm_md5),
       |near AS (
       |  SELECT d.doc_id, MIN(f.doc_id) AS near_of
       |  FROM banded d JOIN banded f ON d.band_key = f.band_key
       |  WHERE d.doc_id % 10 >= 7 AND f.doc_id % 10 < 5
       |  GROUP BY d.doc_id)
       |SELECT n.doc_id,
       |  COALESCE(idx_doc, -1) AS exact_of,
       |  COALESCE(near_of, -1) AS near_of,
       |  COALESCE(idx_doc, -1) = -1 AND COALESCE(near_of, -1) = -1 AS is_new
       |FROM norm n
       |LEFT JOIN exact_idx USING (norm_md5)
       |LEFT JOIN near ON near.doc_id = n.doc_id
       |WHERE n.doc_id % 10 >= 7
       |ORDER BY n.doc_id""".stripMargin
  }

  /** Duplicated-span CUT (q72) — q64 made actionable, the Lee et al.
    * ExactSubstr REWRITE: emit each document with every token cut that
    * lies in a cross-document duplicated 8-gram occurring in a LOWER
    * doc_id (keep-first-occurrence policy, per gram — deterministic, so
    * the canonical copy survives verbatim and every later copy loses
    * exactly the duplicated run).
    *
    * Scale shape: everything up to the cut-position table is q64's
    * narrow gram-hash pipeline — (doc_id, pos, h) triples shuffle, text
    * does not. Cut positions aggregate to ONE integer array per
    * affected document, joined back to the corpus by doc_id; the
    * rewrite itself is a per-row JVM map (the interpreted-HOF rule).
    * Text crosses an exchange exactly twice, and only where it is the
    * payload: the corpus→rewrite join and the ordered output — audited
    * structurally (text-bearing exchange count, not just presence).
    */
  private def q72(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val hs = Scratch.materialize(
      posGramEntries(docs, ExactK)
        .select(col("doc_id"), col("pos"), hex12ToLong(md5(col("g"))).as("h")),
      "q72_grams")
    val dup = hs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("min_doc"))
      .filter(col("nd") >= 2)
      .select(col("h"), col("min_doc"))
    val cuts = hs.join(dup, "h")
      .filter(col("doc_id") > col("min_doc"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + ExactK - 1)).as("tpos"))
      // collect_set deduplicates and the consumer reads the array as a
      // Set — a pre-distinct() (an extra full shuffle) and a sort_array
      // would both be pure waste
      .groupBy(col("doc_id"))
      .agg(collect_set(col("tpos")).as("cut_pos"))
    cutRewrite(docs, cuts)
  }

  /** One token of the token-CUT rewrite, shared verbatim by every
    * cutting operator (q72 dup spans, q104 contaminated spans) and the
    * streaming decont-cut twin — a hand-copy of the keep-loop would
    * silently fork the rewrite semantics between surfaces.
    */
  private[graft] def cutText(text: String, cutSeq: Seq[Long])
      : (Long, String) = {
    // null text rewrites to the empty document, like the oracle's
    // COALESCE legs (an NPE would kill the job where the oracle
    // returns normally)
    val words =
      if (text == null) Array.empty[String]
      else WordRe.findAllIn(text).toArray
    val cut = cutSeq.toSet
    val kept = words.iterator.zipWithIndex
      .filterNot { case (_, i) => cut(i.toLong) }.map(_._1)
    (cutSeq.size.toLong, kept.mkString(" "))
  }

  /** Per-document contaminated-position cover: every token index lying
    * in an `n`-gram the `member` predicate accepts — the single-doc
    * kernel of q104, shared with the streaming decont-cut twin (whose
    * membership is the broadcast EvalGramIndex instead of a join).
    */
  private[graft] def contaminatedCuts(text: String, n: Int,
      member: String => Boolean): Seq[Long] = {
    val words =
      if (text == null) Array.empty[String]
      else WordRe.findAllIn(text).toArray
    val cut = scala.collection.mutable.LinkedHashSet.empty[Long]
    var i = 0
    while (i + n - 1 < words.length) {
      if (member(words.slice(i, i + n).mkString(" "))) {
        var j = i
        while (j < i + n) { cut += j.toLong; j += 1 }
      }
      i += 1
    }
    cut.toSeq
  }

  /** Apply per-document cut-position arrays to a `(doc_id, text)`
    * relation: `(doc_id, n_cut, clean_text)`, ordered. Text crosses an
    * exchange exactly twice (this join and the output sort) — the q72
    * shape, shared by q104.
    */
  private[graft] def cutRewrite(docs: DataFrame, cuts: DataFrame)
      : DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val out = docs.select(col("doc_id"), col("text"))
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("cut_pos"), array().cast("array<long>")).as("cut_pos"))
      .as[(Long, String, Seq[Long])]
      .map { case (id, text, cutSeq) =>
        val (n, clean) = cutText(text, cutSeq)
        (id, n, clean)
      }
      .toDF("doc_id", "n_cut", "clean_text")
    // the sort is the oracle-comparability harness; a production
    // rewrite would write unordered
    out.orderBy(col("doc_id"))
  }

  private val q72Sql = {
    val parts = (0 until ExactK).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
    s"""WITH docs AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, ws,
       |    unnest(range(1, greatest(len(ws) - ${ExactK - 2}, 1))) AS i
       |  FROM docs),
       |grams AS (SELECT doc_id, i - 1 AS pos, md5($parts) AS dg FROM pos),
       |hs AS (SELECT doc_id, pos, ${hex12ToLongSql("dg")} AS h FROM grams),
       |dup AS (SELECT h, MIN(doc_id) AS min_doc FROM hs
       |        GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
       |cover AS (
       |  SELECT DISTINCT hs.doc_id, hs.pos + j.j AS tpos
       |  FROM hs JOIN dup USING (h)
       |  CROSS JOIN (SELECT unnest(range(0, $ExactK)) AS j) j
       |  WHERE hs.doc_id > dup.min_doc),
       |toks AS (
       |  SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM docs),
       |kept AS (
       |  SELECT t.doc_id, t.i, t.ws[t.i] AS w
       |  FROM toks t LEFT JOIN cover c
       |    ON c.doc_id = t.doc_id AND c.tpos = t.i - 1
       |  WHERE c.doc_id IS NULL)
       |SELECT d.doc_id,
       |  COALESCE((SELECT COUNT(*) FROM cover c WHERE c.doc_id = d.doc_id),
       |    0) AS n_cut,
       |  COALESCE((SELECT string_agg(w, ' ' ORDER BY i) FROM kept k
       |    WHERE k.doc_id = d.doc_id), '') AS clean_text
       |FROM documents d
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Decontamination span CUT (q104) — q54/q80/q89 FLAG contaminated
    * documents; production pipelines usually keep the document and cut
    * the contaminated RUNS (the benchmark answer embedded in a crawl
    * page poisons the eval; the rest of the page is fine training
    * data). This is q72's CUT re-aimed cross-set: every token of every
    * TRAIN document covered by a `DecontN`-gram that also occurs in the
    * held-out eval shard (doc_id ≡ 3 mod 10) is removed, and the
    * document survives rewritten. Cut-policy difference from q72 made
    * explicit: ALL covered train tokens go (the eval copy is the
    * protected one), where q72 keeps the first occurrence.
    *
    * Scale shape — q54's broadcast discipline fused with q72's rewrite:
    * the eval shard's distinct grams broadcast (megabytes vs 100 TB —
    * and the q80 bloom prune slots in unchanged when the suite
    * outgrows a broadcast); the train side is one narrow positional
    * flatMap → broadcast-hash join → per-doc integer cut arrays. Gram
    * STRINGS never shuffle (the join is map-side); text crosses an
    * exchange exactly twice, in the shared [[cutRewrite]]. Membership
    * is exact string equality — no hash step, so no collision caveat.
    */
  /** The q104 cut-POSITION pipeline over the canonical train/eval
    * mod-split: eval distinct grams → broadcast → positional train-gram
    * probe → per-doc cut arrays; PlanAuditSpec audits it un-materialized.
    */
  private[graft] def decontCuts(docs: DataFrame): DataFrame = {
    val ev = ngramEntries(docs.filter(col("doc_id") % 10 === 3), DecontN)
      .select(col("s")).distinct()
    posGramEntries(docs.filter(col("doc_id") % 10 =!= 3), DecontN)
      .join(broadcast(ev), col("g") === col("s"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + DecontN - 1)).as("tpos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("tpos")).as("cut_pos"))
  }

  private def q104(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // NO manifest cut, by r12 measurement: three same-session 100×
    // readings — uncut 47.5 s, cut-table materialized 49.8 s, output
    // materialized 48.4 s — are statistically identical. Mechanism:
    // the cut pipeline ends in a SHUFFLE (the per-doc cut aggregation),
    // and the demo sort's range-sampling job shares the RDD graph with
    // the real pass, so the shuffle's map outputs are computed once and
    // REUSED — the q122 double-execution lesson applies only to work
    // that is NOT behind a shuffle (scan-stage chains like q117/q105/
    // q112). The cheapest correct spelling is the plain plan.
    cutRewrite(docs.filter(col("doc_id") % 10 =!= 3), decontCuts(docs))
  }

  private val q104Sql = {
    val parts = (0 until DecontN).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
    s"""WITH docs AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, ws,
       |    unnest(range(1, greatest(len(ws) - ${DecontN - 2}, 1))) AS i
       |  FROM docs),
       |grams AS (SELECT doc_id, i - 1 AS pos, $parts AS g FROM pos),
       |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 3),
       |cover AS (
       |  SELECT DISTINCT t.doc_id, t.pos + j.j AS tpos
       |  FROM grams t JOIN ev USING (g)
       |  CROSS JOIN (SELECT unnest(range(0, $DecontN)) AS j) j
       |  WHERE t.doc_id % 10 <> 3),
       |toks AS (
       |  SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
       |  FROM docs WHERE doc_id % 10 <> 3),
       |kept AS (
       |  SELECT t.doc_id, t.i, t.ws[t.i] AS w
       |  FROM toks t LEFT JOIN cover c
       |    ON c.doc_id = t.doc_id AND c.tpos = t.i - 1
       |  WHERE c.doc_id IS NULL)
       |SELECT d.doc_id,
       |  COALESCE((SELECT COUNT(*) FROM cover c WHERE c.doc_id = d.doc_id),
       |    0) AS n_cut,
       |  COALESCE((SELECT string_agg(w, ' ' ORDER BY i) FROM kept k
       |    WHERE k.doc_id = d.doc_id), '') AS clean_text
       |FROM documents d WHERE d.doc_id % 10 <> 3
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Eval-side LEAK REPORT (q106) — the decontamination family viewed
    * from the benchmark's side: q54/q80/q104 protect the TRAINING set;
    * this reports which EVAL documents are compromised and how badly —
    * the table an eval owner reads before trusting a score. Per eval
    * doc: its distinct `DecontN`-gram count, how many of those grams
    * occur in ≥1 training document, the leaked fraction, and how many
    * distinct training documents share any gram with it.
    *
    * Scale shape — q54's broadcast discipline pointed the other way:
    * the eval shard's distinct grams broadcast into the corpus-side
    * scan, so the only corpus-wide work is the narrow gram flatMap and
    * a map-side semi-join; everything after operates on the surviving
    * (gram, train_doc) pairs, which are LEAK-sized, not corpus-sized.
    */
  /** The q106 report plan, un-materialized and unsorted — exposed so
    * PlanAuditSpec can pin the broadcast/no-text shape the entry's
    * manifest cut hides from its executed plan. */
  private[graft] def leakReport(docs: DataFrame): DataFrame =
    leakReportOn(
      ngramEntries(docs.filter(col("doc_id") % 10 === 3), DecontN),
      docs.filter(col("doc_id") % 10 =!= 3))

  private def leakReportOn(ev: DataFrame, trDocs: DataFrame): DataFrame = {
    val evSet = ev.select(col("s")).distinct()
    val hits = ngramEntries(trDocs, DecontN)
      .select(col("s"), col("doc_id").as("train_doc"))
      .join(broadcast(evSet), "s")
    val perEval = ev.join(hits, "s")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(countDistinct(col("s")).as("n_leaked"),
        countDistinct(col("train_doc")).as("n_train_docs"))
    ev.select(col("doc_id"), col("n_shingles")).distinct()
      .join(perEval, Seq("doc_id", "n_shingles"), "left")
      .select(col("doc_id"), col("n_shingles").as("n_grams"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        round(coalesce(col("n_leaked"), lit(0L)).cast("double") /
          col("n_shingles"), 4).as("leak_frac"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
  }

  private def q106(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // The r12 measurement refined the cut here: the report pipeline
    // ends in shuffles whose map outputs the sort's sampler REUSES, so
    // a report cut bought nothing. The real repeated work is `ev` — the
    // eval gram explode feeds THREE aliased legs (the distinct set, the
    // per-eval join, the id spine) and static plans execute each copy
    // (the q80 three-consumer rationale, applied to the report's input).
    val ev = Scratch.materialize(
      ngramEntries(docs.filter(col("doc_id") % 10 === 3), DecontN),
      "q106_ev").toDF("doc_id", "n_shingles", "s")
    leakReportOn(ev, docs.filter(col("doc_id") % 10 =!= 3))
      .orderBy(col("doc_id"))
  }

  private val q106Sql =
    s"""WITH docs AS (
       |  SELECT doc_id, ${ngramsSql(DecontN)} AS sh
       |  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |        FROM documents)),
       |ev AS (SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS s
       |       FROM docs WHERE doc_id % 10 = 3),
       |tr AS (SELECT DISTINCT s, doc_id AS train_doc
       |       FROM (SELECT doc_id, unnest(sh) AS s FROM docs
       |             WHERE doc_id % 10 <> 3)),
       |hit AS (SELECT e.doc_id, e.n_grams, e.s, t.train_doc
       |        FROM ev e JOIN tr t USING (s)),
       |agg AS (SELECT doc_id, n_grams,
       |          COUNT(DISTINCT s) AS n_leaked,
       |          COUNT(DISTINCT train_doc) AS n_train_docs
       |        FROM hit GROUP BY 1, 2)
       |SELECT e.doc_id, CAST(e.n_grams AS INTEGER) AS n_grams,
       |  COALESCE(a.n_leaked, 0) AS n_leaked,
       |  round(CAST(COALESCE(a.n_leaked, 0) AS DOUBLE) / e.n_grams, 4)
       |    AS leak_frac,
       |  COALESCE(a.n_train_docs, 0) AS n_train_docs
       |FROM (SELECT DISTINCT doc_id, n_grams FROM ev) e
       |LEFT JOIN agg a USING (doc_id)
       |ORDER BY e.doc_id""".stripMargin

  /** Leakage-safe train/val/test SPLIT (q107) — the assignment step a
    * training corpus needs AFTER near-dup clustering: a document's
    * split is a deterministic hash of its duplicate CLUSTER, not of the
    * document, so two near-duplicates can never land in train and test
    * (the split-leakage failure mode that inflates eval scores). Hash =
    * first two hex chars of md5(cluster_id) — identical text in both
    * engines — thresholded 'cc'/'e6' for ~80/10/10.
    *
    * Scale shape: the clustering is q55's (banded pairs → pointer-
    * jumping CC → left join); the assignment itself is a scan-stage
    * projection — zero exchanges beyond the plan that produced the
    * labels, and re-runnable on any corpus delta because the hash needs
    * only the cluster id, never the membership list.
    */
  /** q107's cluster-keyed split rule over an arbitrary `(doc_id, text)`
    * relation — factored out (ONE spelling) so the release-stability
    * gate (q111) can run the identical assignment on each corpus
    * snapshot. Returns `(doc_id, cluster_id, split)` for every doc in
    * `docs`; CC scratch names are `tag`-keyed (the dekOf discipline).
    */
  private[graft] def splitAssign(docs: DataFrame, tag: String): DataFrame =
    splitAssignFrom(docs, bandedOf(docs), tag)

  /** [[splitAssign]] over a PRECOMPUTED `(doc_id, band_key)` relation
    * for the same `docs` — the two-snapshot entries (q111/q124) pass
    * per-snapshot filters of ONE materialized [[bandedOf]] run, since
    * band keys are a pure per-document function (value-identical to
    * running the signature stage on the filtered corpus).
    */
  private[graft] def splitAssignFrom(docs: DataFrame, banded: DataFrame,
      tag: String): DataFrame = {
    val pairs = pairsFromBanded(banded)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val labels = connectedComponents(pairs, tag = tag)
      .withColumnRenamed("cluster_id", "label")
    val hx = substring(md5(col("cluster_id").cast("string")), 1, 2)
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(hx < "cc", "train").when(hx < "e6", "val").otherwise("test"))
  }

  private def q107(s: SparkSession, d: String): DataFrame =
    splitAssign(Tables.documents(s, d), tag = "q107cc")
      .orderBy(col("doc_id"))

  /** The q107 split-assignment CTE chain over one corpus snapshot —
    * `sfx` suffixes every CTE name (so q111 can instantiate it twice in
    * one statement) and `pred` is the snapshot's universe predicate.
    * Terminal CTE `lab$sfx` has (doc_id, cluster_id, split).
    */
  private def splitSqlCtes(sfx: String, pred: String => String): String = {
    val bucket = "substring(md5(CAST(COALESCE(label, d.doc_id) AS VARCHAR)), 1, 2)"
    s"""docs$sfx AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents
       |  WHERE ${pred("doc_id")}),
       |ex$sfx AS (SELECT doc_id, unnest(sh) AS s FROM docs$sfx),
       |hs$sfx AS (SELECT doc_id, ${hex12ToLongSql("dg")} AS h
       |       FROM (SELECT doc_id, md5(s) AS dg FROM ex$sfx)),
       |sigs$sfx AS (SELECT doc_id, $sigSql FROM hs$sfx GROUP BY doc_id),
       |banded$sfx AS (
       |  SELECT doc_id, unnest($bandsSql) AS band_key FROM sigs$sfx),
       |pairs$sfx AS (
       |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM banded$sfx a JOIN banded$sfx b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |edges$sfx AS (
       |  SELECT a, b FROM pairs$sfx UNION SELECT b, a FROM pairs$sfx),
       |reach$sfx(n, r) AS (
       |  SELECT a, a FROM edges$sfx
       |  UNION
       |  SELECT e.b, reach$sfx.r
       |  FROM reach$sfx JOIN edges$sfx e ON e.a = reach$sfx.n),
       |cluster$sfx AS (SELECT n AS doc_id, MIN(r) AS label
       |            FROM reach$sfx GROUP BY n),
       |lab$sfx AS (
       |  SELECT d.doc_id, COALESCE(label, d.doc_id) AS cluster_id,
       |    CASE WHEN $bucket < 'cc' THEN 'train'
       |         WHEN $bucket < 'e6' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents d LEFT JOIN cluster$sfx c ON c.doc_id = d.doc_id
       |  WHERE ${pred("d.doc_id")})""".stripMargin
  }

  // ---- q127: document CONTAINMENT / engulfment detection — the dedup
  // gap every Jaccard-based stage shares (Broder's containment vs
  // resemblance distinction): a small document living INSIDE a larger
  // one (a quoted article, a mirrored excerpt, a scraped snippet) has
  // LOW Jaccard with its container — |A∩B|/|A∪B| shrinks as B grows —
  // so MinHash bands (q32) rarely collide it and the near-dup family
  // never sees it. Containment |A∩B|/|A| is the right measure, and its
  // scalable candidate generator is different from LSH: a contained
  // document shares ALL its grams with the container, so probing the
  // inverted gram index with each document's RAREST grams (smallest
  // df — the cheapest buckets) finds every true engulfment by
  // construction (recall = 1 for containment = 1.0; for τ < 1 the
  // stated contract is that a miss requires all `ContainProbes` rarest
  // grams to fall in the missing fraction). Exact confirm then runs
  // only on candidate pairs.
  //
  // 100 TB shape: text reduces to (doc_id, 32-char gram digest) in the
  // scan stage (the q118 lmd5 convention); df and sizes are partial
  // aggregations; the probe join's fan-out per probe is df(g) — rarest-
  // first keeps it minimal, and `graft.contain.dfCap` is the loud scale
  // guard (a probe gram hotter than the cap is skipped; a document
  // whose ContainProbes rarest grams are ALL hotter is unprobeable —
  // the documented recall trade, never an all-pairs fallback). The
  // corpus is word soup with no natural engulfment, so — the q114/q117
  // construction discipline — snippet documents (the first 40% of
  // words, id + 1e6) are constructed for doc_id ≡ 2 (mod 9), giving
  // the operator true engulfments to find in both engines.
  private[graft] final val ContainTau = 0.9
  private[graft] final val ContainProbes = 3
  /** Probe-gram df cap default — ONE spelling: the Scala
    * probe's `getOrElse` AND the three containment SQL twins interpolate
    * this constant, so the default cannot drift between the engines.
    * Setting the `graft.contain.dfCap` session knob therefore DIVERGES
    * the entry from its oracle (the SQL always runs the default) — it
    * exists for scale experiments, never for a verify run. */
  private[graft] final val ContainDfCapDefault = 10000L
  private[graft] final val SnipOff = 1000000L
  /** The replica id-block convention the constructed-id guards check
    * against: corpus ids must sit in the LOW [0, SnipOff) region of
    * each IdBlock-sized id block. True of the driver corpora (ids
    * < 10⁶) and of the ScaleSlope replicas (base ids
    * shifted by multiples of IdBlock — ScaleSlope.Off IS this
    * constant). When every real id passes, constructed snippet/quote
    * ids land in a block's [SnipOff, ~2·SnipOff) region — provably
    * disjoint from every real id — so the scan-stage per-row check is
    * a sound alias guard with no corpus-wide action. */
  private[graft] final val IdBlock = 10000000L
  // The snippet-construction spelling — parent predicate (doc_id ≡
  // SnipRes mod SnipMod, ≥ SnipMinWords words) and the quoted fraction —
  // is consumed FOUR times: snipOf (Scala) and the q127/q128/q129 SQL
  // twins. One set of constants: a drift in any one
  // spelling would silently weaken the constructed-engulfment layer,
  // and the fuzz gate (own corpora) could not catch it.
  private[graft] final val SnipMod = 9
  private[graft] final val SnipRes = 2
  private[graft] final val SnipMinWords = 30
  private[graft] final val SnipFrac = 0.4

  /** The constructed snippet docs alone (first [[SnipFrac]] of words,
    * id + SnipOff, for doc_id ≡ SnipRes mod SnipMod with ≥ SnipMinWords
    * words) — the observable-engulfment layer, deterministic in both
    * engines. Exposed separately so the lifecycle entries (q128/q129)
    * can probe with snippets of the INDEX population. The id offset is
    * GUARDED (the q119 loud-refusal discipline): an id
    * outside the [[IdBlock]] low-region convention could alias a
    * snippet onto a real document with the SQL twin aliasing
    * identically — green gate, wrong report — so the scan-stage shift
    * refuses instead. */
  private[graft] def snipOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("wsa",
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
      .where(col("doc_id") % SnipMod === SnipRes &&
        size(col("wsa")) >= SnipMinWords)
      .select(
        when(pmod(col("doc_id"), lit(IdBlock)) < SnipOff,
          col("doc_id") + SnipOff)
          .otherwise(raise_error(concat(
            lit(s"snipOf: doc_id outside the low [0, $SnipOff) region " +
              s"of its $IdBlock id block would alias snippet ids onto " +
              "real documents: "),
            col("doc_id").cast("string"))))
          .as("doc_id"),
        array_join(slice(col("wsa"), lit(1),
          floor(size(col("wsa")) * SnipFrac).cast("int")), " ").as("text"))

  /** docs ∪ constructed snippet docs. */
  private[graft] def withSnippets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text")).unionByName(snipOf(docs))

  /** (doc_id, gid) — per-doc DISTINCT gram ids in the q64/q72 48-bit
    * convention (hex12ToLong(md5)): 8 bytes per gram across the
    * operator's full-gram-table shuffles and the multi-consumer
    * checkpoint. Collision posture as at q64/q72: a 48-bit collision
    * can only ADD a shared gram (never remove one), inflating one
    * containment fraction by 1/|G_d|; the sf0.01 oracle gate runs
    * where collision odds are ~2⁻¹¹ per corpus. ONE spelling shared by
    * the index build and the streaming probe's delta side. */
  private[graft] def gramIds(docs: DataFrame): DataFrame =
    ngramEntries(docs, DecontN)
      .select(col("doc_id"), hex12ToLong(md5(col("s"))).as("gid"))

  /** The frozen containment INDEX: gram postings, per-doc gram-set
    * sizes, per-gram document frequencies — everything a probe needs,
    * precomputed once at freeze/publish time (in production: three
    * stored parquet relations, the q69/q99 frozen-index discipline).
    */
  private[graft] final case class ContainIndex(
      g: DataFrame, sizes: DataFrame, dfs: DataFrame)

  private[graft] object ContainIndex {
    /** The index over `(doc_id, gid)` postings: sizes and dfs are counts
      * over the postings themselves — the one constructor for every
      * grain (word grams, surviving lines) and every surface. */
    def of(g: DataFrame): ContainIndex = ContainIndex(g, postingSizes(g),
      g.groupBy(col("gid")).agg(count(lit(1)).as("df")))
  }

  /** Per-doc posting counts `(doc_id, ng)` — an index's sizes and a
    * probe's own, one spelling. */
  private def postingSizes(g: DataFrame): DataFrame =
    g.groupBy(col("doc_id")).agg(count(lit(1)).as("ng"))

  private[graft] def buildContainIndex(corpus: DataFrame,
      tag: String = "q127"): ContainIndex = {
    // materialized — sizes/dfs here plus the probe's three legs consume
    // it. At 100× this scan+checkpoint is the dominant, irreducible
    // corpus-linear term (~80 s of 159 s; its ledger leg is
    // `<tag>_grams`) — the
    // q64 gram-scan class. Scratch names are tag-keyed (the dekOf
    // discipline): several containment surfaces coexist in one session.
    val g = Scratch.materialize(gramIds(corpus), s"${tag}_grams")
      .toDF("doc_id", "gid")
    ContainIndex.of(g)
  }

  /** Probe `delta` documents (as `(doc_id, gid)` postings — [[gramIds]]
    * or surviving line gids; per-doc sizes derive from them) for
    * engulfment in the index's documents — the ONE kernel behind batch
    * q127/q130 (where delta IS the index corpus), the lifecycle entries
    * and the streaming twins (where delta is a micro-batch against a
    * frozen index). Probe grams are each delta doc's `ContainProbes`
    * rarest BY INDEX df — a gram absent from the index never probes (it
    * proves the doc is not fully contained in any index doc, and for
    * τ < 1 the probe-miss contract applies as stated on q127).
    */
  private[graft] def probeContain(idx: ContainIndex, deltaG: DataFrame,
      tag: String = "q127"): DataFrame =
    probeContainManaged(idx, deltaG, tag)._1

  /** [[probeContain]] with the candidate cut's RELEASE handle: the
    * exact-confirm's candidate materialization pins a localCheckpoint
    * per invocation, which the batch entries amortize (Harness.settle
    * sweeps after every rep/entry) but an unbounded stream cannot —
    * `Harness.settle` mid-stream would also drop the frozen index's own
    * checkpoint, which cannot recompute. The streaming twin calls this
    * form and releases after each micro-batch's verdict write lands. */
  private[graft] def probeContainManaged(idx: ContainIndex,
      deltaG: DataFrame, tag: String = "q127")
      : (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    val dfCap = deltaG.sparkSession.conf
      .getOption("graft.contain.dfCap").map(_.toLong)
      .getOrElse(ContainDfCapDefault)
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("gid"))
    // np = how many of the doc's grams the index knows AT ALL — the
    // same window exchange computes it beside the rarest ranking
    val winAll = Window.partitionBy(col("doc_id"))
    val probes = deltaG.join(idx.dfs, "gid")
      .withColumn("rk", row_number().over(win))
      .withColumn("np", count(lit(1)).over(winAll))
      .where(col("rk") <= ContainProbes && col("df") <= dfCap)
      .select(col("doc_id").as("d"), col("gid"), col("np"))
      // REACHABILITY PRUNE: a probe doc can report only if
      // n_shared ≥ τ·nd, and n_shared ≤ np, so np < τ·nd is hopeless
      // BEFORE any candidate exists. Without it, a doc whose only
      // index-present line is retired chrome (df ~ n_docs of its source
      // after a q134-direction re-freeze) fans out into df candidates
      // that τ always rejects — at 30× the dominant cost of q134. This
      // is the stop-bucket argument applied at the probe, value-neutral
      // by construction (no pair at or above τ is prunable). The filter
      // sits BEFORE the idx.g expansion, so the doomed fan-out never
      // shuffles. (The SQL twins keep the unpruned candidate set —
      // identical report, the prune is plan-only.)
      .join(postingSizes(deltaG)
        .select(col("doc_id").as("d"), col("ng").as("nd")), "d")
      .where(col("np").cast("double") >= col("nd").cast("double") * ContainTau)
      .select(col("d"), col("gid"), col("nd"))
    val cand = probes
      .join(idx.g.select(col("gid"), col("doc_id").as("c")), "gid")
      // self-pair guard (the StreamingProbe lesson): under redelivery
      // (or batch, where delta IS the index) a doc meets itself
      .where(col("d") =!= col("c"))
      .select(col("d"), col("c"), col("nd")).distinct()
      // strictly smaller inside strictly larger: equal gram sets are
      // q30/q61's exact-dup territory, not engulfment
      .join(idx.sizes.select(col("doc_id").as("c"), col("ng").as("nc")),
        "c")
      .where(col("nc") > col("nd"))
      .select(col("d"), col("c"), col("nd"))
    // Exact confirm on CANDIDATE-BOUNDED gram relations: joining the
    // full gram table twice — by d, then by (c, gid) — re-shuffles all
    // 24M rows both times, 98 of the entry's 213 s at 100×; with the id
    // filters it shuffles only the candidates' grams. The id sets are candidate-bounded 8-byte
    // keys — probe fan-out already dfCap-guarded — and BROADCAST into
    // the gram scan, so the full table crosses no further exchange.
    val (candRaw, release) =
      Scratch.materializeManaged(cand, s"${tag}_cand")
    val candM = candRaw.toDF("d", "c", "nd")
    val dIds = broadcast(candM.select(col("d").as("doc_id")).distinct())
    val cIds = broadcast(candM.select(col("c").as("doc_id")).distinct())
    val gd = deltaG.join(dIds, Seq("doc_id"), "left_semi")
    val gc = idx.g.join(cIds, Seq("doc_id"), "left_semi")
    val report = candM
      .join(gd.select(col("doc_id").as("d"), col("gid")), "d")
      .join(gc.select(col("doc_id").as("c"), col("gid")),
        Seq("c", "gid"), "left_semi")
      .groupBy(col("d"), col("c"), col("nd"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared").cast("double") / col("nd") >= ContainTau)
      .select(col("d").as("doc_id"), col("c").as("container_id"),
        col("nd").as("n_grams"), col("n_shared"),
        round(col("n_shared").cast("double") / col("nd"), 4)
          .as("containment"))
      .orderBy(col("doc_id"), col("container_id"))
    (report, release)
  }

  /** The containment kernel over any `(doc_id, text)` corpus — exposed
    * for ContainmentSpec's constructed fixtures (exact engulfment,
    * below-τ rejection, the df-cap recall trade). Batch = the probe
    * kernel with delta ≡ the index corpus. */
  private[graft] def containmentReport(corpus: DataFrame): DataFrame = {
    val idx = buildContainIndex(corpus)
    probeContain(idx, idx.g)
  }

  // ---- q128/q129: the INCREMENTAL lifecycle of the containment index,
  // as [[Partials]]. The lex index collapses by per-key MIN, the
  // semantic index by per-cluster append, the census by SUM — the
  // containment index is APPEND-pure: gram postings and per-doc sizes
  // are per-DOCUMENT rows, so a delta batch's partials simply union in
  // (delta-only work), and the per-gram df collapses at probe time as
  // one COUNT over the surviving postings. Exactly-once promotion is the
  // same contract as the census (a doc in two batches would double its
  // postings and inflate df); retraction drops the batch's partition
  // rows, and the collapsed index over the survivors IS the index over
  // the surviving documents.

  /** Per-doc gram-set sizes off tagged postings `(doc_id, gid,
    * batch_id)` — derived from the postings, never a second text pass. */
  private def containSizes(g: DataFrame): DataFrame =
    g.groupBy(col("doc_id"), col("batch_id")).agg(count(lit(1)).as("ng"))
      .select(col("doc_id"), col("ng"), col("batch_id"))

  /** The containment partials (`g` postings, `sizes`) of a `(doc_id,
    * gid)` postings relation — word grain passes [[gramIds]], line grain
    * `TextAnalysis.lineGramIds` under its frozen chrome — each row in
    * batch `batch` (over doc_id). The postings are materialized once, so
    * both relations read the stored scan and writing them never
    * re-expands the text. The release handle frees the scan once a
    * streaming promote's writes land, keeping per-batch scratch bounded
    * on an unbounded stream; the scan is named by the store's `tag` and
    * the batch ([[Partials.scanName]]). */
  private[graft] def containPartials(postings: DataFrame, batch: Column,
      tag: String): Partials = {
    val (gRaw, release) = Scratch.materializeManaged(
      postings.select(col("doc_id"), col("gid")),
      Partials.scanName(tag, batch, "cip"))
    val g = gRaw.toDF("doc_id", "gid").withColumn("batch_id", batch)
    Partials(Seq("g" -> g, "sizes" -> containSizes(g)), release)
  }

  /** The stored containment relations' schemas, line-grain too. */
  private[graft] val ContainShape = Map(
    "g" -> "doc_id BIGINT, gid BIGINT, batch_id BIGINT",
    "sizes" -> "doc_id BIGINT, ng BIGINT, batch_id BIGINT")

  /** [[containPartials]] for the batch entries (q128/q129/q131/q132):
    * store the postings, each row in batch `batch`, then the sizes
    * derived from the STORED postings — so the postings materialize
    * once, as the store itself, and one text pass serves every batch. */
  private[graft] def storeContain(postings: DataFrame, batch: Column,
      tag: String): Partials = {
    val sg = Partials(Seq("g" -> postings.select(col("doc_id"), col("gid"),
      batch.as("batch_id")))).store(tag)
    sg ++ Partials(Seq("sizes" -> containSizes(sg("g")))).store(tag)
  }

  /** Collapse surviving partials to the probe-ready index: df is ONE
    * count over the stored postings, so promote stays delta-only; the
    * sizes are the stored ones. */
  private[graft] def collapseContain(p: Partials): ContainIndex = {
    val g = p("g").drop("batch_id")
    ContainIndex(g, p("sizes").drop("batch_id"),
      g.groupBy(col("gid")).agg(count(lit(1)).as("df")))
  }

  /** Containment-index MERGE equivalence (q128): the frozen batch
    * (doc_id ≡ 0,1,2 mod 7) and the promoted delta (≡ 3,4) as batches 0
    * and 1, all batches stored at once, then snippets of the INDEX
    * population (guaranteed engulfments) plus the unseen docs (≡ 5,6)
    * probe the collapsed index. Oracle = the probe against the index
    * REBUILT over frozen∪delta — merged ≡ rebuilt, the delta-only-work
    * proof (the q115 census pattern on the append algebra). Batch
    * moduli 7/9 are coprime to the generator's 20-source round-robin.
    */
  private def q128(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val m = col("doc_id") % 7
    // the probe-side gram scan is independent of the whole index chain,
    // so it overlaps the store on a driver thread
    val (live, gp) = Overlap.pair(
      storeContain(gramIds(docs.filter(m < 5)),
        when(m < 3, lit(0L)).otherwise(lit(1L)), "q128"),
      probeGramsOf(docs.filter(m < 5), docs.filter(m >= 5), "q128"))
    probeContain(collapseContain(live), gp, "q128")
  }

  /** Containment-index RETRACTION equivalence (q129): batches 0/1/2
    * (doc_id ≡ 0,1 / 2,3 / 4 mod 7), all batches stored at once
    * partitioned by batch_id, retract batch 2 (the re-crawled source
    * recalled after promote), and probe snippets of the FULL promoted
    * population — snippets of batch-2 parents lose their container, so
    * the retraction is observable in the report, and the oracle is the
    * probe against the index REBUILT over batches 0∪1 only: demoted ≡
    * rebuilt-without.
    */
  private def q129(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val m = col("doc_id") % 7
    // one gram scan, the probe scan overlapped beside it (see q128)
    val (stored, gp) = Overlap.pair(
      storeContain(gramIds(docs.filter(m < 5)),
        when(m < 2, lit(0L)).when(m < 4, lit(1L)).otherwise(lit(2L)), "q129"),
      probeGramsOf(docs.filter(m < 5), docs.filter(m >= 5), "q129"))
    probeContain(collapseContain(stored.retract(2L)), gp, "q129")
  }

  /** The lifecycle entries' shared probe-side gram scan: snippets of
    * `snipBase` ∪ the unseen `rest` docs, materialized (three probe
    * legs consume it). Split from the probe itself: at word grain this
    * scan depends on NOTHING the index chain produces, so q128/q129 run
    * it on a driver thread overlapped with the store (guide §2.6). */
  private def probeGramsOf(snipBase: DataFrame, rest: DataFrame,
      tag: String): DataFrame = {
    val probeDocs = snipOf(snipBase)
      .unionByName(rest.select(col("doc_id"), col("text")))
    Scratch.materialize(gramIds(probeDocs), s"${tag}_pg")
      .toDF("doc_id", "gid")
  }

  /** The two-population probe oracle (index population `idxPred`,
    * probe = snippets of `snipPred` parents ∪ `probePred` docs) — the
    * SQL twin of [[probeContain]] over [[collapseContain]]-shaped
    * state, shared by q128 and q129. */
  private def containSqlFor(idxPred: String, snipPred: String,
      probePred: String): String =
    s"""WITH idxd AS (
       |  SELECT doc_id, text FROM documents WHERE $idxPred),
       |probed AS (
       |  SELECT doc_id, text FROM documents WHERE $probePred
       |  UNION ALL
       |  SELECT doc_id + $SnipOff,
       |    array_to_string(ws[1:CAST(floor(len(ws) * $SnipFrac) AS INT)],
       |      ' ')
       |  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |        FROM documents WHERE $snipPred)
       |  WHERE doc_id % $SnipMod = $SnipRes AND len(ws) >= $SnipMinWords),
       |gxi AS (SELECT doc_id, ${ngramsSql(DecontN)} AS sh
       |        FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |              FROM idxd)),
       |gi AS (SELECT doc_id, ${hex12ToLongSql("md5(unnest(sh))")} AS gid
       |       FROM gxi),
       |gxp AS (SELECT doc_id, ${ngramsSql(DecontN)} AS sh
       |        FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |              FROM probed)),
       |gp AS (SELECT doc_id, ${hex12ToLongSql("md5(unnest(sh))")} AS gid
       |       FROM gxp),
       |${containTwoPopProbeSqlTail("n_grams")}""".stripMargin

  /** The TWO-POPULATION probe SQL tail (szi/szp/dfx sizing + probes →
    * cand → sh → report) over CTEs named `gi(doc_id, gid)` (index side)
    * and `gp(doc_id, gid)` (probe side) — the ONE SQL spelling of
    * [[probeContain]]'s frozen-index form, shared by the word-grain
    * lifecycle twins (q128/q129 via [[containSqlFor]]) and the
    * line-grain lifecycle twins (q131/q132 in TextAnalysis, which only
    * rename the size column). */
  private[graft] def containTwoPopProbeSqlTail(sizeCol: String): String =
    s"""szi AS (SELECT doc_id, COUNT(*) AS ng FROM gi GROUP BY 1),
       |szp AS (SELECT doc_id, COUNT(*) AS ng FROM gp GROUP BY 1),
       |dfx AS (SELECT gid, COUNT(*) AS df FROM gi GROUP BY 1),
       |probes AS (
       |  SELECT doc_id AS d, gid FROM (
       |    SELECT gp.doc_id, gp.gid, dfx.df,
       |      ROW_NUMBER() OVER (PARTITION BY gp.doc_id
       |        ORDER BY dfx.df, gp.gid) AS rk
       |    FROM gp JOIN dfx USING (gid))
       |  WHERE rk <= $ContainProbes AND df <= $ContainDfCapDefault),
       |cand AS (
       |  SELECT cd.d, cd.c, sd.ng AS nd
       |  FROM (SELECT DISTINCT p.d, i.doc_id AS c
       |        FROM probes p JOIN gi i USING (gid)
       |        WHERE i.doc_id <> p.d) cd
       |  JOIN szp sd ON sd.doc_id = cd.d
       |  JOIN szi sc ON sc.doc_id = cd.c
       |  WHERE sc.ng > sd.ng),
       |sh AS (
       |  SELECT cs.d, cs.c, cs.nd, COUNT(*) AS n_shared
       |  FROM cand cs
       |  JOIN gp gd ON gd.doc_id = cs.d
       |  JOIN gi gc ON gc.doc_id = cs.c AND gc.gid = gd.gid
       |  GROUP BY 1, 2, 3)
       |SELECT d AS doc_id, c AS container_id,
       |  CAST(nd AS BIGINT) AS $sizeCol,
       |  CAST(n_shared AS BIGINT) AS n_shared,
       |  round(CAST(n_shared AS DOUBLE) / nd, 4) AS containment
       |FROM sh WHERE CAST(n_shared AS DOUBLE) / nd >= $ContainTau
       |ORDER BY doc_id, container_id""".stripMargin

  private val q128Sql = containSqlFor(
    "doc_id % 7 < 5", "doc_id % 7 < 5", "doc_id % 7 >= 5")

  private val q129Sql = containSqlFor(
    "doc_id % 7 < 4", "doc_id % 7 < 5", "doc_id % 7 >= 5")

  private def q127(s: SparkSession, d: String): DataFrame =
    containmentReport(withSnippets(Tables.documents(s, d)))

  /** The SELF-probe SQL tail (probes → cand → sh → report) over CTEs
    * named `g(doc_id, gid)`, `sizes(doc_id, ng)`, `dfx(gid, df)` — the
    * ONE SQL spelling of [[probeContain]]'s delta ≡ index form, shared
    * by q127 (word-gram grain) and q130 (line grain, which only renames
    * the size column). The two-population lifecycle twins (q128/q129)
    * keep their own [[containSqlFor]] spelling. */
  private[graft] def containSelfProbeSqlTail(sizeCol: String): String =
    s"""probes AS (
       |  SELECT doc_id AS d, gid FROM (
       |    SELECT g.doc_id, g.gid, dfx.df,
       |      ROW_NUMBER() OVER (PARTITION BY g.doc_id
       |        ORDER BY dfx.df, g.gid) AS rk
       |    FROM g JOIN dfx USING (gid))
       |  WHERE rk <= $ContainProbes AND df <= $ContainDfCapDefault),
       |cand AS (
       |  SELECT cd.d, cd.c, sd.ng AS nd
       |  FROM (SELECT DISTINCT p.d, i.doc_id AS c
       |        FROM probes p JOIN g i USING (gid)
       |        WHERE i.doc_id <> p.d) cd
       |  JOIN sizes sd ON sd.doc_id = cd.d
       |  JOIN sizes sc ON sc.doc_id = cd.c
       |  WHERE sc.ng > sd.ng),
       |sh AS (
       |  SELECT cs.d, cs.c, cs.nd, COUNT(*) AS n_shared
       |  FROM cand cs
       |  JOIN g gd ON gd.doc_id = cs.d
       |  JOIN g gc ON gc.doc_id = cs.c AND gc.gid = gd.gid
       |  GROUP BY 1, 2, 3)
       |SELECT d AS doc_id, c AS container_id,
       |  CAST(nd AS BIGINT) AS $sizeCol,
       |  CAST(n_shared AS BIGINT) AS n_shared,
       |  round(CAST(n_shared AS DOUBLE) / nd, 4) AS containment
       |FROM sh WHERE CAST(n_shared AS DOUBLE) / nd >= $ContainTau
       |ORDER BY doc_id, container_id""".stripMargin

  private val q127Sql =
    s"""WITH snip AS (
       |  SELECT doc_id + $SnipOff AS doc_id,
       |    array_to_string(ws[1:CAST(floor(len(ws) * $SnipFrac) AS INT)],
       |      ' ') AS text
       |  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |        FROM documents)
       |  WHERE doc_id % $SnipMod = $SnipRes AND len(ws) >= $SnipMinWords),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM snip),
       |gx AS (SELECT doc_id, ${ngramsSql(DecontN)} AS sh
       |       FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws
       |             FROM corpus)),
       |g AS (SELECT doc_id, ${hex12ToLongSql("md5(unnest(sh))")} AS gid
       |       FROM gx),
       |sizes AS (SELECT doc_id, COUNT(*) AS ng FROM g GROUP BY 1),
       |dfx AS (SELECT gid, COUNT(*) AS df FROM g GROUP BY 1),
       |${containSelfProbeSqlTail("n_grams")}""".stripMargin

  private val q107Sql =
    s"""WITH RECURSIVE ${splitSqlCtes("", _ => "TRUE")}
       |SELECT doc_id, cluster_id, split
       |FROM lab ORDER BY doc_id""".stripMargin

  /** Corpus snapshot DIFF (q109) — the data-versioning operator every
    * corpus release pipeline runs before publishing: given the previous
    * release and the current one, report per document whether it was
    * ADDED, REMOVED, CHANGED (same id, different content), or SAME —
    * the go/no-go table for "does this release change what we think it
    * changes", and the input to incremental downstream work (only
    * added∪changed need re-embedding/re-scoring; q69/q99 probe exactly
    * that delta).
    *
    * The two snapshots derive deterministically from the one fixture
    * (the q102 mod-split discipline): previous = doc_id ≢ 2 (mod 7)
    * (≡2 are this release's additions) with docs ≡ 1 (mod 5) carrying
    * a prior content revision; current = doc_id ≢ 4 (mod 9) (≡4 were
    * dropped). Identity is md5 of the exact bytes — a release diff is
    * byte-level; the C4-normalized variant is one `normMd5` swap away.
    *
    * Scale shape: each side reduces to (doc_id, md5) IN THE SCAN STAGE
    * (digests are per-row expressions, so column pruning + the
    * projection reach the parquet scan), then ONE full-outer
    * sort-merge join on the id — the only exchange in the plan before
    * the output sort, carrying 8-byte ids and 32-char digests, never
    * text (audited). At 100 TB both sides partition by id and the diff
    * streams; no state, no windows, no driver materialization.
    */
  private def q109(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val prev = docs.filter(col("doc_id") % 7 =!= 2)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 1,
          md5(concat(col("text"), lit("|rev0"))))
          .otherwise(md5(col("text"))).as("prev_md5"))
    val cur = docs.filter(col("doc_id") % 9 =!= 4)
      .select(col("doc_id"), md5(col("text")).as("cur_md5"))
    prev.join(cur, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("prev_md5").isNull, "added")
          .when(col("cur_md5").isNull, "removed")
          .when(col("prev_md5") =!= col("cur_md5"), "changed")
          .otherwise("same").as("status"),
        coalesce(col("prev_md5"), lit("")).as("prev_md5"),
        coalesce(col("cur_md5"), lit("")).as("cur_md5"))
      .orderBy(col("doc_id"))
  }

  private val q109Sql =
    """WITH prev AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 1 THEN md5(text || '|rev0')
      |         ELSE md5(text) END AS prev_md5
      |  FROM documents WHERE doc_id % 7 <> 2),
      |cur AS (
      |  SELECT doc_id, md5(text) AS cur_md5
      |  FROM documents WHERE doc_id % 9 <> 4)
      |SELECT COALESCE(prev.doc_id, cur.doc_id) AS doc_id,
      |  CASE WHEN prev.doc_id IS NULL THEN 'added'
      |       WHEN cur.doc_id IS NULL THEN 'removed'
      |       WHEN prev_md5 <> cur_md5 THEN 'changed'
      |       ELSE 'same' END AS status,
      |  COALESCE(prev_md5, '') AS prev_md5,
      |  COALESCE(cur_md5, '') AS cur_md5
      |FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Release-gate SPLIT STABILITY (q111) — the cross-release eval gate
    * that composes the corpus diff (q109) with the cluster-keyed split
    * (q107): report every document whose train/val/test assignment
    * FLIPS between two corpus releases. The failure mode it gates:
    * q107's split is a pure function of the CLUSTER
    * id, and cluster ids are min-doc-id canonicals — when a release's
    * additions MERGE two clusters (or a removal takes a cluster's
    * min-id member), the surviving canonical changes, the md5 bucket
    * changes, and a former test/val document silently lands in train —
    * contaminating every cross-release eval comparison. An eval owner
    * runs this gate before trusting release N's scores against N−1's.
    *
    * Releases are q109's mod-split pair over the one fixture: previous
    * = doc_id ≢ 2 (mod 7), current = doc_id ≢ 4 (mod 9) — the SAME
    * constants, so q109's ADDED/REMOVED rows are exactly the membership
    * delta that drives these flips. `leaks_into_train` marks the
    * dangerous direction (eval→train): those documents must be dropped
    * from release-N training or the eval set re-drawn.
    *
    * Scale shape: two independent q107 plans (banded LSH → pointer-
    * jumping CC → scan-stage split projection, no text past the
    * signature stage) joined on the 8-byte doc_id spine and filtered to
    * flips — the join carries (id, cluster, 5-char split) only. At
    * 100 TB the production form computes the current release's split
    * fresh and reads the previous release's ASSIGNMENT MANIFEST
    * (id-partitioned parquet, q67's manifest discipline) instead of
    * re-clustering history; the flip report is the same narrow join.
    */
  /** The flip report over two split ASSIGNMENTS (each `(doc_id,
    * cluster_id, split)`, [[splitAssign]]'s shape) — factored so
    * CurationSpec can drive it on constructed cluster-merge worlds.
    */
  private[graft] def flipReport(prev: DataFrame, cur: DataFrame): DataFrame =
    prev.select(col("doc_id"), col("cluster_id").as("prev_cluster"),
        col("split").as("prev_split"))
      .join(cur.select(col("doc_id"), col("cluster_id").as("cur_cluster"),
        col("split").as("cur_split")),
        Seq("doc_id")) // only docs in BOTH releases can flip
      .filter(col("prev_split") =!= col("cur_split"))
      .withColumn("leaks_into_train",
        when(col("cur_split") === "train" && col("prev_split") =!= "train",
          lit(1L)).otherwise(lit(0L)))
      .select(col("doc_id"), col("prev_cluster"), col("cur_cluster"),
        col("prev_split"), col("cur_split"), col("leaks_into_train"))
      .orderBy(col("doc_id"))

  private def q111(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // r14 optimization: band keys are per-doc, so ONE signature run
    // over the fixture serves both releases (filter per snapshot), and
    // the two snapshot pipelines (pair join + CC loop) are independent
    // until the flip join — their jobs overlap on driver threads.
    val banded = Scratch.materialize(bandedOf(docs), "q111_banded")
      .toDF("doc_id", "band_key")
    val predP = col("doc_id") % 7 =!= 2
    val predC = col("doc_id") % 9 =!= 4
    val (prev, cur) = Overlap.pair(
      splitAssignFrom(docs.filter(predP), banded.filter(predP), "q111p"),
      splitAssignFrom(docs.filter(predC), banded.filter(predC), "q111c"))
    flipReport(prev, cur)
  }

  private val q111Sql =
    s"""WITH RECURSIVE ${splitSqlCtes("p", q => s"$q % 7 <> 2")},
       |${splitSqlCtes("c", q => s"$q % 9 <> 4")}
       |SELECT p.doc_id AS doc_id,
       |  p.cluster_id AS prev_cluster, c.cluster_id AS cur_cluster,
       |  p.split AS prev_split, c.split AS cur_split,
       |  CAST(CASE WHEN c.split = 'train' AND p.split <> 'train'
       |            THEN 1 ELSE 0 END AS BIGINT) AS leaks_into_train
       |FROM labp p JOIN labc c ON p.doc_id = c.doc_id
       |WHERE p.split <> c.split
       |ORDER BY doc_id""".stripMargin

  /** Split-stability gate, MANIFEST-READ production form (q124) — the
    * 100 TB shape q111's own doc promises: release N−1's assignment is
    * never recomputed; it was WRITTEN when release N−1 shipped, as a
    * split-partitioned parquet manifest in the q67 manifest discipline
    * (the lifecycle ops on an assignment manifest are per-split —
    * "release N−1's test docs" is partition PRUNING over the store,
    * not a scan). The gate then runs ONE fresh clustering (the current
    * release) and joins it against a narrow 3-column manifest scan —
    * halving q111's cost, which is 2× a q107 plan by construction.
    *
    * Values are q111's exactly (same [[splitAssign]] on the same
    * snapshot predicates), so the oracle IS q111's SQL — the entry pins
    * that the store round-trip (write → partition-discovered read-back)
    * preserves the assignment bit-for-bit. The prev side carries no
    * text by CONSTRUCTION: the manifest schema is (doc_id, cluster_id,
    * split) — a release's corpus text cannot leak into the flip report
    * because it was never stored.
    */
  private def q124(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // same r14 shared-banded + overlapped-sides shape as q111; the prev
    // side's manifest WRITE (the entry's point) rides inside its thread
    // so the store round-trip overlaps the current release's clustering
    val banded = Scratch.materialize(bandedOf(docs), "q124_banded")
      .toDF("doc_id", "band_key")
    val predP = col("doc_id") % 7 =!= 2
    val predC = col("doc_id") % 9 =!= 4
    val (prev, cur) = Overlap.pair(
      Scratch.materializePartitioned(
        splitAssignFrom(docs.filter(predP), banded.filter(predP), "q124p"),
        "q124_prev_assign", "split"),
      splitAssignFrom(docs.filter(predC), banded.filter(predC), "q124c"))
    flipReport(prev, cur)
  }

  /** QUALITY-KEEPER selection per duplicate cluster (q113) — the
    * survivor POLICY q55 deliberately fixes as min-doc-id, upgraded to
    * what production pipelines actually keep (RefinedWeb/CCNet keep
    * the best exemplar of a near-dup cluster, not the first-seen):
    * keeper = the member with the MOST CONTENT (`n_chars`), ties to
    * the smallest doc_id. Near-dup members differ by edits, so
    * keep-longest retains the most complete copy. Any integer-exact
    * score plugs into the same argmax (q65's quantized surprisal is
    * the model-based option); the POLICY is the operator, the score is
    * a parameter.
    *
    * Scale shape: clustering is q55's banded-CC plan; the keeper is
    * ONE `max(struct(n_chars, −doc_id))` aggregation — partial-agg
    * (map-side combine) per cluster, NO per-cluster window, nothing
    * wider than (cluster_id, two longs) in the exchange. The oracle
    * spells the same argmax as a window because DuckDB lacks struct
    * max-by; the engine side stays windowless on purpose.
    */
  private def q113(s: SparkSession, d: String): DataFrame = {
    val pairs = q32(s, d).select(col("doc_a").as("a"), col("doc_b").as("b"))
    val labels = connectedComponents(pairs, tag = "q113cc")
    labels
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("doc_id")).as("neg"))).as("m"))
      .select(col("cluster_id"), (-col("m.neg")).as("keeper_doc_id"),
        col("m.n_chars").as("keeper_chars"), col("n_members"))
      .orderBy(col("cluster_id"))
  }

  private val q113Sql =
    s"""WITH RECURSIVE docs AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
       |hs AS (SELECT doc_id, ${hex12ToLongSql("dg")} AS h
       |       FROM (SELECT doc_id, md5(s) AS dg FROM ex)),
       |sigs AS (SELECT doc_id, $sigSql FROM hs GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, unnest($bandsSql) AS band_key FROM sigs),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM banded a JOIN banded b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       |reach(n, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.n),
       |cluster AS (SELECT n AS doc_id, MIN(r) AS cluster_id
       |            FROM reach GROUP BY n),
       |members AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |      ORDER BY d.n_chars DESC, c.doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
       |  FROM cluster c JOIN documents d ON d.doc_id = c.doc_id)
       |SELECT cluster_id, doc_id AS keeper_doc_id,
       |  CAST(n_chars AS BIGINT) AS keeper_chars,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM members WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  override def entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q30_exact_dedup", q30, Some(q30Sql)),
    CatalogEntry("q31_ngram_jaccard", q31, Some(q31Sql)),
    CatalogEntry("q32_minhash_lsh", q32, Some(q32Sql)),
    CatalogEntry("q33_simhash", q33, Some(q33Sql)),
    CatalogEntry("q34_embedding_neardup", q34, Some(q34Sql)),
    CatalogEntry("q38_band_entries", q38, Some(q38Sql)),
    CatalogEntry("q39_dup_clusters", q39, Some(q39Sql)),
    CatalogEntry("q48_stratified_sample", q48, Some(q48Sql)),
    CatalogEntry("q54_decontaminate", q54, Some(q54Sql)),
    // q80's oracle IS q54's SQL: the two-phase bloom plan must hash
    // identically to the broadcast-exact plan (fp ⇒ wasted join row,
    // never a wrong verdict)
    CatalogEntry("q80_bloom_decontaminate", q80, Some(q54Sql)),
    CatalogEntry("q55_dedup_survivors", q55, Some(q55Sql)),
    CatalogEntry("q58_simhash_pairs", q58, Some(q58Sql)),
    CatalogEntry("q61_normalized_dedup", q61, Some(q61Sql)),
    CatalogEntry("q62_pack_sequences", q62, Some(q62Sql)),
    CatalogEntry("q63_source_cap", q63, Some(q63Sql)),
    CatalogEntry("q64_exact_substr_spans", q64, Some(q64Sql)),
    CatalogEntry("q67_pipeline_manifest", q67, Some(q67Sql)),
    CatalogEntry("q68_mixture_sample", q68, Some(q68Sql)),
    CatalogEntry("q69_incremental_dedup", q69, Some(q69Sql)),
    CatalogEntry("q100_lex_index_merge", q100, Some(q100Sql)),
    CatalogEntry("q102_lex_index_retract", q102, Some(q102Sql)),
    CatalogEntry("q72_cut_dup_spans", q72, Some(q72Sql)),
    CatalogEntry("q104_decont_cut", q104, Some(q104Sql)),
    CatalogEntry("q106_eval_leak_report", q106, Some(q106Sql)),
    CatalogEntry("q107_leak_safe_split", q107, Some(q107Sql)),
    CatalogEntry("q109_corpus_diff", q109, Some(q109Sql)),
    CatalogEntry("q111_split_stability", q111, Some(q111Sql)),
    // q124's oracle IS q111's SQL: the manifest-read form must hash
    // identically to the recompute-both form (same splitAssign, same
    // snapshots; only the prev side's PROVENANCE differs)
    CatalogEntry("q124_split_stability_manifest", q124, Some(q111Sql)),
    CatalogEntry("q127_containment", q127, Some(q127Sql)),
    CatalogEntry("q128_contain_index_merge", q128, Some(q128Sql)),
    CatalogEntry("q129_contain_index_retract", q129, Some(q129Sql)),
    CatalogEntry("q113_quality_keeper", q113, Some(q113Sql)),
  )
}
