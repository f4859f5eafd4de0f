package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * q35 is the exact baseline: brute-force cosine top-k per query — a
  * broadcast of Q query vectors against N candidates, one narrow pass, one
  * per-query top-k (TakeOrdered-shaped, no global sort).
  *
  * q36 is the scale path: multi-table random-hyperplane (cosine) LSH.
  * Each vector gets one bucket per table — a PT-bit sign pattern of dot
  * products with deterministic pseudo-random hyperplanes, computed as a
  * pure per-row expression (planes derived from md5(t:p,d) — no plane
  * table to join, nothing to broadcast). Search touches only the query's
  * L buckets: at 100 TB the candidate join is bucket-equality
  * (hash-partitioned), probing ~L·N/2^PT vectors instead of N, with L
  * and PT the measured recall/candidates dial (AnnRecallSpec).
  */
object Similarity extends QueryModule {

  private val K = 10 // neighbors per query
  private val NQ = 5 // queries = vec_id < NQ

  /** Ordered-fold dot product of two float-array columns, in double —
    * the native codegen'd expression (see [[graft.functions.FloatDot]]);
    * bit-identical to the `aggregate(zip_with(...))` spelling it replaced,
    * minus the interpreted-lambda overhead.
    */
  private def dot(x: Column, y: Column): Column =
    graft.functions.VectorFunctions.floatDot(x, y)

  /** The ONE DuckDB spelling of the float dot product — private[graft]
    * so q34's oracle (Dedup) shares it instead of hand-copying it: a
    * precision/cast change must reach every embedding oracle or none.
    * The lambda variable is `i` — callers must not use 1-letter table
    * aliases named `i` near it (DuckDB silently captures the alias, as
    * q99's oracle once showed).
    */
  private[graft] def dotSql(x: String, y: String): String =
    s"list_sum(list_transform(range(1, len($x) + 1), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"

  private def withNorm(e: DataFrame): DataFrame =
    e.repartition(Scratch.par(e)) // spread the scan before per-row exprs
      .select(col("vec_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))

  /** Brute-force cosine top-k for NQ query vectors. */
  private def q35(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val cand = e.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(q).join(cand, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 4)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q35Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    round(${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 4) AS cosine
       |  FROM e q JOIN e c ON q.vec_id < $NQ AND q.vec_id <> c.vec_id)
       |SELECT query_id, cand_id, cosine, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand_id) AS rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * first 4 hex digits of md5("p,d") scaled to [-1, 1). Same arithmetic
    * in both engines; ascii-based hex-digit decoding keeps it lambda-safe.
    */
  private val Dim = 64 // embedding width of the testdata corpus
  // shared numeric thresholds live HERE, above every SQL val that
  // interpolates them: an eager val interpolating a later-declared
  // constant runs before its initializer and silently bakes 0.0 into
  // the oracle (the q99Sql incident; keeping every such constant at
  // the top of the object removes the whole hazard class)
  private[graft] val SemTau = 0.35 // intra-cluster cosine drop threshold
  // semantic-decontamination threshold for eval-vs-train EMBEDDING
  // contamination (q89): data-calibrated for the synthetic corpus,
  // where the train-side max-cos-to-eval distribution tops out at
  // ~0.45 (p99 ≈ 0.40) — high enough that only genuine geometric
  // neighbors of the held-out shard flag, low enough to be non-vacuous
  private[graft] val CosDecontTau = 0.40

  private val L = 5 // LSH tables (each its own plane family)
  private val PT = 7 // hyperplane bits per table

  /** Plane matrices are tiny (L×PT×Dim doubles) and fully determined by
    * the md5 formula, so they are computed ONCE on the driver and
    * embedded as array literals — at 100 TB this is the "broadcast the
    * model, stream the data" pattern, and per row it removes
    * L×PT×Dim interpreted md5 evaluations (the measured difference
    * between minutes and seconds). The DuckDB oracle derives the
    * identical weights from the same formula in SQL (`planeWSql`).
    */
  private lazy val planeMatrix: Array[Array[Array[Double]]] =
    Array.tabulate(L, PT, Dim) { (t, p, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"$t:$p,$d".getBytes("UTF-8"))
      val v = ((h(0) & 0xff) << 8) | (h(1) & 0xff) // first 4 hex digits
      v.toDouble / 32768.0 - 1.0
    }

  private def planeWSql(t: Int, p: Int, d: String): String = {
    // the shared hex-digit decode (Dedup.hexValSql), not a third local
    // spelling of the ascii CASE convention
    def hv(i: Int) =
      Dedup.hexValSql(s"substring(md5('$t:$p,' || CAST($d AS VARCHAR)), $i, 1)")
    s"(CAST(${hv(1)} * 4096 + ${hv(2)} * 256 + ${hv(3)} * 16 + ${hv(4)} AS DOUBLE) / 32768.0 - 1.0)"
  }

  /** Table-t sign signature (PT-char bit string) of a vector — a pure
    * per-row expression against the literal plane matrix.
    */
  private def sigBits(t: Int, emb: Column): Column =
    concat((0 until PT).map { p =>
      val s = aggregate(
        zip_with(emb, typedLit(planeMatrix(t)(p).toSeq),
          (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(s >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  private def sigSql(t: Int, emb: String): String =
    (0 until PT).map { p =>
      val s = s"list_sum(list_transform(range(1, len($emb) + 1), " +
        s"i -> CAST($emb[i] AS DOUBLE) * ${planeWSql(t, p, "i - 1")}))"
      s"(CASE WHEN $s >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** Query-side multiprobe: the exact bucket plus every Hamming-
    * distance-1 bucket of the query's table-t signature. Only queries
    * explode (1+PT probes per table); data vectors still index into
    * exactly one bucket per table.
    */
  private def probesFor(t: Int, sig: Column): Seq[Column] =
    concat(lit(s"$t|"), sig) +: (0 until PT).map { p =>
      val flipped = when(substring(sig, p + 1, 1) === "1", lit("0"))
        .otherwise(lit("1"))
      concat(lit(s"$t|"), substring(sig, 1, p), flipped,
        substring(sig, p + 2, PT - p - 1))
    }

  /** Multi-table multiprobe sign-LSH ANN: per-query top-5 over the
    * union of the query's probed buckets across L independent tables.
    *
    * Why multi-table: this corpus's true top-5 cosines sit at 0.26-0.40
    * (θ≈70°, per-plane agreement ≈0.6), so ONE 8-bit table finds a true
    * neighbor with probability ~0.6⁸ ≈ 2% — AnnRecallSpec measured
    * recall@5 = 0.00 for that configuration, and exact-bucket L=4×PT=4
    * plateaued at 0.32 while probing ~25% of the corpus. Multiprobe is
    * the standard fix: a true neighbor that "just misses" the query's
    * bucket lands one bit away, so probing the PT Hamming-1 buckets per
    * table (query side only — the INDEX stays one bucket per vector)
    * buys the recall of many more tables for the hash cost of L. The
    * per-neighbor hit rate is P(≥PT−1 of PT bits agree) per table,
    * compounded over L tables; at L=5×PT=7 that models ≈0.5 while the
    * expected probed fraction stays ≈L·(1+PT)/2^PT ≈ 31% — measured by
    * AnnRecallSpec (recall floor AND probed fraction) rather than
    * trusted from the model.
    */
  private def q36(s: SparkSession, d: String): DataFrame = {
    val sigd = sigTables(s, d)
    val cand = sigd.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"), col("nrm").as("c_nrm"),
      explode(array((0 until L).map(t =>
        concat(lit(s"$t|"), col(s"sig$t"))): _*)).as("bkt"))
    val q = sigd.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        explode(array((0 until L).flatMap(t =>
          probesFor(t, col(s"sig$t"))): _*)).as("bkt"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(q).join(cand, "bkt")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 4)
          .as("cosine"))
      .distinct() // a pair can collide in several probes; count it once
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** vec_id, embedding, nrm plus the L per-table signatures. */
  private def sigTables(s: SparkSession, d: String): DataFrame =
    withNorm(Tables.embeddings(s, d)).select(
      Seq(col("vec_id"), col("embedding"), col("nrm")) ++
        (0 until L).map(t => sigBits(t, col("embedding")).as(s"sig$t")): _*)

  /** Diagnostic for the recall gate: average fraction of the corpus a
    * query's probed buckets actually touch (distinct candidates probed
    * / N). The scale claim of the index IS this number — log it next to
    * recall so the trade is visible in the spec output.
    */
  def probedFraction(s: SparkSession, d: String): Double = {
    val sigd = sigTables(s, d)
    val cand = sigd.select(col("vec_id").as("cand_id"),
      explode(array((0 until L).map(t =>
        concat(lit(s"$t|"), col(s"sig$t"))): _*)).as("bkt"))
    val q = sigd.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"),
        explode(array((0 until L).flatMap(t =>
          probesFor(t, col(s"sig$t"))): _*)).as("bkt"))
    val n = sigd.count().toDouble
    // honest denominator: the query's own vector is not a probed
    // CANDIDATE, and a query whose every probe bucket is empty probed
    // ~0 of the corpus — it must average in as 0, not vanish from the
    // mean (left join from the query list, coalesce missing to 0)
    val perQuery = broadcast(q).join(cand, "bkt")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id")).distinct()
      .groupBy(col("query_id")).count()
    val probed = sigd.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"))
      .join(perQuery, Seq("query_id"), "left")
      .agg(avg(coalesce(col("count"), lit(0L)))).head().getDouble(0)
    probed / n
  }

  private val q36Sql = {
    val sigCols = (0 until L).map(t =>
      s"${sigSql(t, "embedding")} AS sig$t").mkString(",\n    ")
    val candBuckets = (0 until L).map(t => s"'$t|' || sig$t")
      .mkString("[", ", ", "]")
    val probeBuckets = (0 until L).flatMap { t =>
      s"'$t|' || sig$t" +: (0 until PT).map { p =>
        s"'$t|' || substr(sig$t, 1, $p) || " +
          s"(CASE WHEN substr(sig$t, ${p + 1}, 1) = '1' THEN '0' ELSE '1' END)" +
          s" || substr(sig$t, ${p + 2})"
      }
    }.mkString("[", ", ", "]")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |sg AS (
       |  SELECT vec_id, embedding, nrm,
       |    $sigCols
       |  FROM e),
       |cand AS (
       |  SELECT vec_id, embedding, nrm, unnest($candBuckets) AS bkt FROM sg),
       |qp AS (
       |  SELECT vec_id, embedding, nrm, unnest($probeBuckets) AS bkt
       |  FROM sg WHERE vec_id < $NQ),
       |scored AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    round(${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 4) AS cosine
       |  FROM qp q JOIN cand c ON q.bkt = c.bkt AND q.vec_id <> c.vec_id)
       |SELECT query_id, cand_id, cosine, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private[graft] val NCent = 8 // IVF lists
  private val NProbe = 2 // probed lists per query
  private[graft] val CentBase = 100L // centroid seed vectors: vec_id 100..107

  /** The SEEDED coarse-quantizer relation (vec_id ∈ [CentBase,
    * CentBase+NCent) with norms) — ONE definition consumed by q37's
    * IVF build and q70/q79's semantic clustering, for the same reason
    * centroidRanks is shared: a hand-copy of the seed range or column
    * naming silently diverges the cluster assignment the entries are
    * documented to share.
    */
  private def seededCent(e: DataFrame): DataFrame =
    e.filter(col("vec_id") >= CentBase && col("vec_id") < CentBase + NCent)
      .select(col("vec_id").as("cid"), col("embedding").as("cent_emb"),
        col("nrm").as("cent_nrm"))

  /** IVF-style ANN (q37): the other standard scale path besides sign-LSH.
    * Coarse quantizer = NCent deterministic seed vectors (vec_id
    * 100..107 — a k-means iteration would refine them, but seeded
    * determinism is what the cross-engine oracle needs); every vector is
    * ASSIGNED to its nearest centroid (one broadcast of an 8-row
    * centroid table, N×K map-side cosines, argmax by window); a query
    * probes its NProbe closest lists and brute-forces only those.
    *
    * At 100 TB: centroids are a broadcast model, the assignment is a
    * narrow pass, the inverted lists are hash-partitioned by centroid id,
    * and a probe touches ~NProbe/NCent of the data — the FAISS IVF shape
    * on DataFrames.
    */
  private def q37(s: SparkSession, d: String): DataFrame =
    ivfQuery(s, d, seededCent)

  /** The IVF build+probe with a pluggable coarse quantizer: `mkCent`
    * receives the normalized corpus and returns the centroid table
    * (cid, cent_emb, cent_nrm). q37 seeds it for oracle determinism;
    * AnnRecallSpec plugs in q59's TRAINED centroids to compare the
    * probes at EQUAL probed fraction (recall alone rewards skewed
    * lists — a huge probed list is brute force wearing an index).
    */
  /** The probe→score→rank tail shared by [[ivfQuery]] and
    * [[ivfQueryWithFraction]] — ONE spelling of the inverted lists,
    * the probe set, the rounded cosine, and the (cosine desc, cand_id)
    * tie-break, so the q96 certificate can never grade a different
    * probe than q37/q88 execute (a hand-copied tail could drift).
    * Returns (top5, assign, probes).
    */
  private def ivfRanked(scoredCent: DataFrame, nProbe: Int, nq: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    // inverted lists: every vector in exactly its nearest list
    val assign = scoredCent.filter(col("crank") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"))
    // queries probe their nProbe nearest lists
    val probes = scoredCent
      .filter(col("vec_id") < nq && col("crank") <= nProbe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    val top5 = broadcast(probes).join(assign
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
          col("nrm").as("c_nrm"), col("cid")), "cid")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("cid"),
        round(dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 4)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
    (top5, assign, probes)
  }

  /** Mean probed-list size over the query set as a fraction of the
    * corpus, EXCLUDING the query's own row (its crank-1 list always
    * contains itself; the LSH twin's probedFraction already excludes
    * self, and the two ride side by side as matched-cost metrics).
    */
  private def probedFracOf(assign: DataFrame, probes: DataFrame,
      n: Double): Double = {
    val sizes = assign.groupBy("cid").count()
    probes.select(col("query_id"), col("cid")).join(sizes, "cid")
      .groupBy(col("query_id")).agg((sum(col("count")) - 1).as("p"))
      .agg(avg(col("p"))).head().getDouble(0) / n
  }

  private[graft] def ivfQuery(s: SparkSession, d: String,
      mkCent: DataFrame => DataFrame, nProbe: Int = NProbe,
      nq: Long = NQ, tag: String = "q37"): DataFrame = {
    // e feeds the centroid scan AND the full assignment pass — a store-
    // backed temp table, not an executor cache (see Scratch.materialize).
    // The scratch name is CALL-SITE-keyed: q37 and q88 both route here,
    // and in parquet-scratch mode a shared fixed name would let the
    // second call overwrite files a still-lazy first result reads
    val e = Scratch.materialize(withNorm(Tables.embeddings(s, d)), s"${tag}_e")
    ivfRanked(centroidRanks(e, mkCent(e)), nProbe, nq)._1
  }

  private val q37Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cid, embedding AS cent_emb, nrm AS cent_nrm
       |  FROM e WHERE vec_id >= $CentBase AND vec_id < ${CentBase + NCent}),
       |scored_cent AS (
       |  SELECT e.vec_id, e.embedding, e.nrm, cent.cid,
       |    round(${dotSql("e.embedding", "cent.cent_emb")} /
       |      (e.nrm * cent.cent_nrm), 4) AS ccos,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(${dotSql("e.embedding", "cent.cent_emb")} /
       |        (e.nrm * cent.cent_nrm), 4) DESC, cent.cid) AS crank
       |  FROM e CROSS JOIN cent),
       |assign AS (
       |  SELECT vec_id, embedding, nrm, cid FROM scored_cent WHERE crank = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, cid
       |  FROM scored_cent WHERE vec_id < $NQ AND crank <= $NProbe),
       |pairs AS (
       |  SELECT p.query_id, a.vec_id AS cand_id, a.cid,
       |    round(${dotSql("p.q_emb", "a.embedding")} / (p.q_nrm * a.nrm), 4)
       |      AS cosine
       |  FROM probes p JOIN assign a ON p.cid = a.cid
       |    AND p.query_id <> a.vec_id)
       |SELECT query_id, cand_id, cid, cosine, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand_id) AS rank
       |  FROM pairs)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** [[ivfQuery]] plus its probed fraction from ONE materialized
    * centroid-ranking pass — q96 needs both, and calling ivfQuery and
    * ivfProbedFraction separately would run the corpus × NCent ranking
    * (and its scratch materialization) twice per invocation. Same
    * subplans — centroidRanks is the one shared spelling — so the
    * result is bit-identical to the separate calls.
    */
  private[graft] def ivfQueryWithFraction(s: SparkSession, d: String,
      mkCent: DataFrame => DataFrame, nProbe: Int = NProbe,
      nq: Long = NQ): (DataFrame, Double) = {
    val e = Scratch.materialize(withNorm(Tables.embeddings(s, d)), "q96_e")
    val cent = mkCent(e)
    val scoredCent = Scratch.materialize(
      centroidRanks(e, cent).select(col("vec_id"), col("embedding"),
        col("nrm"), col("cid"), col("crank")), "q96_sc")
    val (res, assign, probes) = ivfRanked(scoredCent, nProbe, nq)
    (res, probedFracOf(assign, probes, e.count().toDouble))
  }

  private[graft] val DeltaMax = 100L // q99 delta batch: vec_id < DeltaMax

  /** INCREMENTAL semantic dedup (q99) — the operational 100 TB shape
    * for embeddings, the q69/StreamingProbe discipline applied to the
    * semantic family: a DELTA batch of newly arrived vectors (vec_id <
    * DeltaMax) is checked against the FROZEN indexed corpus (vec_id ≥
    * DeltaMax, assigned once to the coarse quantizer), not against
    * itself and not all-pairs. Each delta vector probes exactly its
    * own nearest inverted list; a frozen neighbor at cosine ≥ SemTau
    * makes it a duplicate of the LOWEST such index id, else it is
    * novel (`dup_of` = −1). `max_cos` (−1 when the probed list is
    * empty) makes near-threshold drift visible.
    *
    * Scale shape: centroids broadcast (model-sized); the frozen side
    * is hash-partitioned inverted lists built once and reused across
    * delta batches; per batch the join cost is |delta| × its probed
    * lists' sizes — independent of corpus², and the corpus text/
    * vectors never reshuffle for a new batch. Deterministic seeded
    * quantizer ⇒ fully oracle-checkable (q59-trained centroids slot in
    * operationally exactly as q88 does for retrieval).
    */
  private def q99(s: SparkSession, d: String): DataFrame = {
    val e = Scratch.materialize(withNorm(Tables.embeddings(s, d)), "q99_e")
    val cent = seededCent(e)
    // materialized: the ranking pass feeds THREE legs (delta → probed
    // + final join, index) — the q96/q92 multi-leg discipline
    val assign = Scratch.materialize(
      centroidRanks(e, cent)
        .filter(col("crank") === 1)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cid")),
      "q99_assign")
    val delta = assign.filter(col("vec_id") < DeltaMax)
      .select(col("vec_id"), col("cid"), col("embedding").as("d_emb"),
        col("nrm").as("d_nrm"))
    val index = assign.filter(col("vec_id") >= DeltaMax)
      .select(col("vec_id").as("idx_id"), col("cid"),
        col("embedding").as("i_emb"), col("nrm").as("i_nrm"))
    val probed = delta.join(index, "cid")
      .select(col("vec_id"), col("cid"), col("idx_id"),
        round(dot(col("d_emb"), col("i_emb")) /
          (col("d_nrm") * col("i_nrm")), 4).as("cos"))
    val verdicts = probed.groupBy(col("vec_id"), col("cid"))
      .agg(max(col("cos")).as("max_cos"),
        min(when(col("cos") >= SemTau, col("idx_id"))).as("dup"))
    delta.select(col("vec_id"), col("cid"))
      .join(verdicts, Seq("vec_id", "cid"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("dup"), lit(-1L)).as("dup_of"),
        coalesce(col("max_cos"), lit(-1.0)).as("max_cos"),
        (coalesce(col("dup"), lit(-1L)) === -1L).as("novel"))
      .orderBy(col("vec_id"))
  }

  /** The frozen SEMANTIC index as a value: the (frozen) coarse
    * quantizer plus its inverted lists (idx vector → owning list).
    * q99 probes this shape in-plan; q101/q103 keep the lists as
    * [[Partials]] so a delta batch of vectors promotes into the stored
    * lists WITHOUT re-assigning the corpus. The quantizer does NOT
    * retrain on promote (that is what "frozen" means operationally —
    * retraining is the periodic full-rebuild event, not the daily
    * promote).
    */
  private[graft] final case class SemIndex(cent: DataFrame, lists: DataFrame)

  /** Nearest-list assignment of a vector relation under a given
    * quantizer — the unit of index construction (broadcast centroids;
    * one narrow shuffle on cid). `carry` columns of `e` ride along.
    */
  private def assignLists(e: DataFrame, cent: DataFrame,
      carry: Column*): DataFrame =
    centroidRanks(e, cent).filter(col("crank") === 1)
      .select(Seq(col("vec_id").as("idx_id"), col("cid"),
        col("embedding").as("i_emb"), col("nrm").as("i_nrm")) ++ carry: _*)

  private[graft] def buildSemIndex(e: DataFrame, cent: DataFrame): SemIndex =
    SemIndex(cent, assignLists(e, cent))

  /** q99's probe contract over an explicit index value. */
  private[graft] def probeSem(idx: SemIndex, probeE: DataFrame): DataFrame = {
    val delta = centroidRanks(probeE, idx.cent).filter(col("crank") === 1)
      .select(col("vec_id"), col("cid"), col("embedding").as("d_emb"),
        col("nrm").as("d_nrm"))
    val probed = delta.join(idx.lists, "cid")
      .select(col("vec_id"), col("cid"), col("idx_id"),
        round(dot(col("d_emb"), col("i_emb")) /
          (col("d_nrm") * col("i_nrm")), 4).as("cos"))
    val verdicts = probed.groupBy(col("vec_id"), col("cid"))
      .agg(max(col("cos")).as("max_cos"),
        min(when(col("cos") >= SemTau, col("idx_id"))).as("dup"))
    delta.select(col("vec_id"), col("cid"))
      .join(verdicts, Seq("vec_id", "cid"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("dup"), lit(-1L)).as("dup_of"),
        coalesce(col("max_cos"), lit(-1.0)).as("max_cos"),
        (coalesce(col("dup"), lit(-1L)) === -1L).as("novel"))
      .orderBy(col("vec_id"))
  }

  /** Semantic frozen-index MERGE equivalence (q101) — q100's lifecycle
    * story for the embedding signal: the inverted lists of the frozen
    * corpus (vec_id ≥ DeltaMax, quantizer = the seeded centroids inside
    * it) as batch 0 and of the delta (DeltaMax/2 ≤ vec_id < DeltaMax) as
    * batch 1, all batches assigned and stored at once, then probe the
    * next batch (vec_id < DeltaMax/2) against the collapsed index. The
    * oracle rebuilds the index from scratch over frozen∪delta under the
    * same quantizer — hash equality is the merged ≡ rebuilt proof.
    */
  private def q101(s: SparkSession, d: String): DataFrame = {
    val e = Scratch.materialize(withNorm(Tables.embeddings(s, d)), "q101_e")
    val cent = Scratch.materialize(seededCent(e), "q101_cent")
    val v = col("vec_id")
    val stored = semPartials(e.filter(v >= DeltaMax / 2), cent,
      when(v >= DeltaMax, lit(0L)).otherwise(lit(1L))).store("q101")
    probeSem(collapseSem(cent, stored), e.filter(v < DeltaMax / 2))
  }

  /** The (normalized embeddings, frozen quantizer) pair q99/q101/q103
    * build on — exposed for the streaming-promote twin's convergence
    * spec, the `kmeansInputs` pattern: a hand-copied norm or seed range
    * in the spec would silently diverge from the entries it checks.
    */
  private[graft] def semIndexInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = withNorm(Tables.embeddings(s, d))
    (e, seededCent(e))
  }

  /** The stored semantic relation's schema ([[Partials.read]]). */
  private[graft] val SemShape = Map(
    "lists" -> "idx_id BIGINT, cid BIGINT, i_emb ARRAY<FLOAT>, i_nrm DOUBLE, batch_id BIGINT")

  /** The semantic partials of `e`: its `lists` rows, assigned under
    * the FROZEN quantizer `cent`, each in batch `batch` (over vec_id).
    * Assignment is per-vector under a fixed quantizer, so the lists are
    * append-only and a batch's rows are exactly what its retraction
    * drops. The quantizer is shared state, not a relation: promote never
    * retrains it and retraction never touches it, so it is passed to
    * [[collapseSem]] instead.
    */
  private[graft] def semPartials(e: DataFrame, cent: DataFrame,
      batch: Column): Partials =
    Partials(Seq("lists" -> assignLists(e.withColumn("batch_id", batch),
      cent, col("batch_id"))))

  /** Collapse to the probe shape: provenance off, [[probeSem]] on. */
  private[graft] def collapseSem(cent: DataFrame, p: Partials): SemIndex =
    SemIndex(cent, p("lists").drop("batch_id"))

  /** Semantic frozen-index RETRACTION equivalence (q103) — q102's
    * story for the embedding signal: the inverted lists of the frozen
    * corpus (vec_id ≥ DeltaMax) as batch 0, of [3·DeltaMax/4, DeltaMax)
    * as batch 1 and of [DeltaMax/2, 3·DeltaMax/4) as batch 2, all
    * batches assigned under the frozen quantizer and stored at once
    * partitioned by batch_id, RETRACT batch 2, then probe
    * vec_id < DeltaMax/2 against the demoted index. The oracle probes
    * lists rebuilt from scratch over batches 0∪1 only — hash equality
    * is the demoted ≡ rebuilt-without proof.
    */
  private def q103(s: SparkSession, d: String): DataFrame = {
    val e = Scratch.materialize(withNorm(Tables.embeddings(s, d)), "q103_e")
    val cent = Scratch.materialize(seededCent(e), "q103_cent")
    val v = col("vec_id")
    val h = DeltaMax / 2
    val stored = semPartials(e.filter(v >= h), cent,
      when(v >= DeltaMax, lit(0L)).when(v >= DeltaMax * 3 / 4, lit(1L))
        .otherwise(lit(2L)))
      .store("q103")
    probeSem(collapseSem(cent, stored.retract(2L)), e.filter(v < h))
  }

  // lazy: the q99Sql/q101Sql discipline (interpolates SemTau)
  private lazy val q103Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cid, embedding AS cent_emb, nrm AS cent_nrm
       |  FROM e WHERE vec_id >= $CentBase AND vec_id < ${CentBase + NCent}),
       |assign AS (
       |  SELECT vec_id, embedding, nrm, cid FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm, cent.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${dotSql("e.embedding", "cent.cent_emb")} /
       |          (e.nrm * cent.cent_nrm), 4) DESC, cent.cid) AS crank
       |    FROM e CROSS JOIN cent)
       |  WHERE crank = 1),
       |probed AS (
       |  SELECT dl.vec_id, dl.cid, ix.vec_id AS idx_id,
       |    round(${dotSql("dl.embedding", "ix.embedding")} /
       |      (dl.nrm * ix.nrm), 4) AS cos
       |  FROM assign dl JOIN assign ix
       |    ON dl.cid = ix.cid AND dl.vec_id < ${DeltaMax / 2}
       |   AND ix.vec_id >= ${DeltaMax * 3 / 4}),
       |verdicts AS (
       |  SELECT vec_id, cid, MAX(cos) AS max_cos,
       |    MIN(CASE WHEN cos >= $SemTau THEN idx_id END) AS dup
       |  FROM probed GROUP BY vec_id, cid)
       |SELECT d.vec_id, d.cid,
       |  COALESCE(v.dup, -1) AS dup_of,
       |  COALESCE(v.max_cos, -1.0) AS max_cos,
       |  COALESCE(v.dup, -1) = -1 AS novel
       |FROM (SELECT vec_id, cid FROM assign WHERE vec_id < ${DeltaMax / 2}) d
       |LEFT JOIN verdicts v ON v.vec_id = d.vec_id AND v.cid = d.cid
       |ORDER BY d.vec_id""".stripMargin

  // lazy: the q99Sql discipline (interpolates SemTau)
  private lazy val q101Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cid, embedding AS cent_emb, nrm AS cent_nrm
       |  FROM e WHERE vec_id >= $CentBase AND vec_id < ${CentBase + NCent}),
       |assign AS (
       |  SELECT vec_id, embedding, nrm, cid FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm, cent.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${dotSql("e.embedding", "cent.cent_emb")} /
       |          (e.nrm * cent.cent_nrm), 4) DESC, cent.cid) AS crank
       |    FROM e CROSS JOIN cent)
       |  WHERE crank = 1),
       |probed AS (
       |  SELECT dl.vec_id, dl.cid, ix.vec_id AS idx_id,
       |    round(${dotSql("dl.embedding", "ix.embedding")} /
       |      (dl.nrm * ix.nrm), 4) AS cos
       |  FROM assign dl JOIN assign ix
       |    ON dl.cid = ix.cid AND dl.vec_id < ${DeltaMax / 2}
       |   AND ix.vec_id >= ${DeltaMax / 2}),
       |verdicts AS (
       |  SELECT vec_id, cid, MAX(cos) AS max_cos,
       |    MIN(CASE WHEN cos >= $SemTau THEN idx_id END) AS dup
       |  FROM probed GROUP BY vec_id, cid)
       |SELECT d.vec_id, d.cid,
       |  COALESCE(v.dup, -1) AS dup_of,
       |  COALESCE(v.max_cos, -1.0) AS max_cos,
       |  COALESCE(v.dup, -1) = -1 AS novel
       |FROM (SELECT vec_id, cid FROM assign WHERE vec_id < ${DeltaMax / 2}) d
       |LEFT JOIN verdicts v ON v.vec_id = d.vec_id AND v.cid = d.cid
       |ORDER BY d.vec_id""".stripMargin

  // lazy: interpolates SemTau, declared LATER in this object — an
  // eager val here runs before SemTau's initializer and bakes 0.0 into
  // the oracle text (caught by the hash gate: every delta row became a
  // "duplicate" of its own cluster seed)
  private lazy val q99Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cid, embedding AS cent_emb, nrm AS cent_nrm
       |  FROM e WHERE vec_id >= $CentBase AND vec_id < ${CentBase + NCent}),
       |assign AS (
       |  SELECT vec_id, embedding, nrm, cid FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm, cent.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${dotSql("e.embedding", "cent.cent_emb")} /
       |          (e.nrm * cent.cent_nrm), 4) DESC, cent.cid) AS crank
       |    FROM e CROSS JOIN cent)
       |  WHERE crank = 1),
       |probed AS (
       |  SELECT dl.vec_id, dl.cid, ix.vec_id AS idx_id,
       |    round(${dotSql("dl.embedding", "ix.embedding")} /
       |      (dl.nrm * ix.nrm), 4) AS cos
       |  FROM assign dl JOIN assign ix
       |    ON dl.cid = ix.cid AND dl.vec_id < $DeltaMax
       |   AND ix.vec_id >= $DeltaMax),
       |verdicts AS (
       |  SELECT vec_id, cid, MAX(cos) AS max_cos,
       |    MIN(CASE WHEN cos >= $SemTau THEN idx_id END) AS dup
       |  FROM probed GROUP BY vec_id, cid)
       |SELECT d.vec_id, d.cid,
       |  COALESCE(v.dup, -1) AS dup_of,
       |  COALESCE(v.max_cos, -1.0) AS max_cos,
       |  COALESCE(v.dup, -1) = -1 AS novel
       |FROM (SELECT vec_id, cid FROM assign WHERE vec_id < $DeltaMax) d
       |LEFT JOIN verdicts v ON v.vec_id = d.vec_id AND v.cid = d.cid
       |ORDER BY d.vec_id""".stripMargin

  private val M = 8 // PQ subspaces
  private val SubDim = Dim / M // dims per subspace
  private val KCodes = 32 // centroids per subspace codebook
  private val CodeBase = 100L // codebook seed vectors: vec_id 100..115
  private val Shortlist = 64 // ADC shortlist size before exact rerank

  /** Squared L2 distance via three ordered-fold dot products —
    * |x|² − 2·x·y + |y|², each a codegen'd [[graft.functions.FloatDot]];
    * the identical formula (and therefore identical IEEE result) is
    * spelled in the oracle twin.
    */
  private def l2sq(x: Column, y: Column): Column =
    dot(x, x) - lit(2.0) * dot(x, y) + dot(y, y)

  private def l2sqSql(x: String, y: String): String =
    s"(${dotSql(x, x)} - 2.0 * ${dotSql(x, y)} + ${dotSql(y, y)})"

  /** (vec_id, nrm, m, sub): every vector exploded into its M subvectors,
    * full-vector norm riding along (no later re-join against the scan).
    */
  private def subvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("nrm"),
      explode(array((0 until M).map(m =>
        struct(lit(m).as("m"),
          slice(col("embedding"), m * SubDim + 1, SubDim).as("sub"))): _*))
        .as("x"))
      .select(col("vec_id"), col("nrm"), col("x.m").as("m"),
        col("x.sub").as("sub"))

  /** Product-quantization ANN (q57) — the third standard scale path after
    * sign-LSH (q36) and IVF (q37), and the one that attacks MEMORY: each
    * vector is stored as M=8 one-byte codes (nearest codebook centroid
    * per 8-dim subspace), a 32× compression of a 64-float embedding, so
    * a 100 TB embedding corpus's index fits in ~3 TB of executor memory.
    * Codebook = subvector slices of KCodes seed vectors (deterministic,
    * like q37's seeded centroids — a k-means pass would refine them but
    * the cross-engine oracle needs seeded determinism).
    *
    * Search is asymmetric distance computation (ADC): the query computes
    * its M×KCodes distance table (tiny, broadcast), each candidate's
    * approximate distance is the table lookup sum over its codes —
    * pivoted to FIXED textual order before summing (a SUM over double
    * rows has nondeterministic add order; q47's trick) — then the ADC
    * shortlist of `Shortlist` (64) is reranked with exact cosines. At scale: codebook
    * and distance tables are broadcast models, codes are a narrow map
    * product, only (query, cand, m, d) lookup rows shuffle into the
    * per-pair pivot, and the exact rerank touches Shortlist·NQ vectors.
    * Recall@5 vs the exact baseline is pinned by AnnRecallSpec.
    */
  private def q57(s: SparkSession, d: String): DataFrame = {
    val e = Scratch.materialize(withNorm(Tables.embeddings(s, d)), "q57_e")
    val subs = subvectors(e)
    val cb = broadcast(
      subvectors(e.filter(col("vec_id") >= CodeBase &&
          col("vec_id") < CodeBase + KCodes))
        .select((col("vec_id") - CodeBase).as("k"), col("m"),
          col("sub").as("cent")))
    // d2 assigns codes (nearest centroid by L2); ip feeds the ADC table.
    // The corpus's true metric is COSINE, so ADC ranks by approximate
    // inner product over the codes divided by the EXACT norms — norms
    // ride along with the codes (the standard PQ "codes + norm" layout,
    // +8 bytes/vector). Measured recall@5 (AnnRecallSpec): plain L2-ADC
    // 0.44, this IP/norm formulation 0.56 on the same 16-code codebook,
    // 0.60 at KCodes=32.
    val scored = subs.join(cb, "m")
      .select(col("vec_id"), col("nrm"), col("m"), col("k"),
        l2sq(col("sub"), col("cent")).as("d2"),
        dot(col("sub"), col("cent")).as("ip"))
    val aw = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("d2"), col("k"))
    val codes = scored
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("cand_id"), col("nrm").as("c_nrm"), col("m"),
        col("k").as("code"))
    // query-side inner-product table: M × KCodes entries per query
    val dtable = broadcast(scored.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("nrm").as("q_nrm"),
        col("m").as("qm"), col("k").as("qk"), col("ip").as("dq")))
    val looked = codes.join(dtable,
        col("m") === col("qm") && col("code") === col("qk"))
      .filter(col("cand_id") =!= col("query_id"))
    val adc = looked
      .groupBy(col("query_id"), col("cand_id"), col("q_nrm"), col("c_nrm"))
      .pivot("m", 0 until M).agg(first(col("dq")))
      .select(col("query_id"), col("cand_id"),
        round((0 until M).map(m => col(m.toString)).reduce(_ + _) /
          (col("q_nrm") * col("c_nrm")), 4).as("adc_cos"))
    val sw = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cos").desc, col("cand_id"))
    val short = adc.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= Shortlist)
      .select(col("query_id"), col("cand_id"))
    // exact rerank of the shortlist only
    val q = broadcast(e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    short.join(e.select(col("vec_id").as("cand_id"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm")), "cand_id")
      .join(q, "query_id")
      .select(col("query_id"), col("cand_id"),
        round(dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 4)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q57Sql = {
    val fixedAdc = (0 until M).map(m =>
      s"MAX(CASE WHEN c.m = $m THEN dq END)").mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |ms AS (SELECT unnest(range(0, $M)) AS m),
       |subs AS (
       |  SELECT vec_id, nrm, m,
       |    embedding[m * $SubDim + 1 : m * $SubDim + $SubDim] AS sub
       |  FROM e CROSS JOIN ms),
       |cb AS (
       |  SELECT vec_id - $CodeBase AS k, m, sub AS cent FROM subs
       |  WHERE vec_id >= $CodeBase AND vec_id < ${CodeBase + KCodes}),
       |scored AS (
       |  SELECT s.vec_id, s.nrm, s.m, cb.k,
       |    ${l2sqSql("s.sub", "cb.cent")} AS d2,
       |    ${dotSql("s.sub", "cb.cent")} AS ip
       |  FROM subs s JOIN cb USING (m)),
       |codes AS (
       |  SELECT vec_id AS cand_id, nrm AS c_nrm, m, k AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |      ORDER BY d2, k) AS rn FROM scored)
       |  WHERE rn = 1),
       |dtable AS (
       |  SELECT vec_id AS query_id, nrm AS q_nrm, m, k, ip AS dq
       |  FROM scored WHERE vec_id < $NQ),
       |adc AS (
       |  SELECT query_id, cand_id,
       |    round(($fixedAdc) / (q_nrm * c_nrm), 4) AS adc_cos
       |  FROM codes c JOIN dtable t ON t.m = c.m AND t.k = c.code
       |  WHERE c.cand_id <> t.query_id
       |  GROUP BY query_id, cand_id, q_nrm, c_nrm),
       |short AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc_cos DESC, cand_id) AS srn FROM adc)
       |  WHERE srn <= $Shortlist),
       |rer AS (
       |  SELECT s.query_id, s.cand_id,
       |    round(${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 4)
       |      AS cosine
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.query_id
       |  JOIN e c ON c.vec_id = s.cand_id)
       |SELECT query_id, cand_id, cosine, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand_id) AS rank
       |  FROM rer)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Average fraction of the corpus a query's probed IVF lists cover —
    * the denominator of any honest recall claim (see [[probedFraction]]
    * for the LSH twin).
    */
  private[graft] def ivfProbedFraction(s: SparkSession, d: String,
      mkCent: DataFrame => DataFrame, nProbe: Int = NProbe,
      nq: Long = NQ, tag: String = "q37frac"): Double = {
    val e = Scratch.materialize(withNorm(Tables.embeddings(s, d)), s"${tag}_e")
    val scoredCent = centroidRanks(e, mkCent(e))
    val (_, assign, probes) = ivfRanked(scoredCent, nProbe, nq)
    probedFracOf(assign, probes, e.count().toDouble)
  }

  private val KmK = 8 // clusters (the IVF list count)
  private val KmIters = 3 // Lloyd rounds

  /** In-engine SPHERICAL k-means (q59): trains the coarse quantizer
    * that q37/q57 deliberately seed (their cross-engine oracles need
    * seeded determinism; a real deployment trains). Spherical = assign
    * by cosine, update = per-dimension mean of NORMALIZED vectors
    * (only the mean's direction matters, and the unit-vector mean is
    * the fixed-assignment optimum — a raw mean is norm-weighted and
    * loses the descent guarantee); the objective Σ(1 − cos) then
    * decreases monotonically exactly like Lloyd's WCSS. Distributed shape per round: centroids
    * are a broadcast 8-row model, assignment is a narrow argmin pass
    * (BroadcastNestedLoop over KmK rows × N, window argmin), the update
    * is posexplode → per-(cid, dim) partial-agg means — work ∝ N·K·Dim,
    * no all-pairs, centroids re-broadcast each round via a store-backed
    * scratch table. The per-round objective probe is one bounded driver
    * scalar (the CC convergence-probe discipline).
    *
    * Rows-only catalog entry: float mean aggregation is
    * partial-order-dependent in the low bits, so exact cross-engine hash
    * parity is impossible by design; KMeansSpec pins the semantics
    * instead (strictly decreasing objective, exhaustive assignment,
    * better than the seeded-centroid quantizer), and AnnRecallSpec plugs
    * the trained centroids into the IVF probe at matched probed
    * fraction.
    */
  /** Nearest-centroid assignment of every vector by COSINE (spherical
    * k-means — the corpus's query metric; an L2 objective trains
    * centroids the cosine probe then partitions differently, which
    * measured recall@5 0.24 vs the seeded 0.44 at matched probed
    * fraction). `d2` = 1 − cos, so smaller is better and the objective
    * is a sum like Lloyd's. Broadcast the KmK-row model, one narrow
    * argmin pass. Exposed un-materialized so the plan audit can see the
    * join shape (Scratch.materialize checkpoints the RDD, which hides
    * subplans from the final executedPlan).
    */
  /** Rank every vector's candidate centroids by rounded cosine — the
    * ONE spelling of the nearest-centroid pass shared by ivfQuery,
    * ivfProbedFraction, and q70 (three hand-copies of this subplan
    * previously risked silent oracle divergence on any tie-break or
    * rounding change). Adds (cid, cent_emb, cent_nrm, ccos, crank);
    * downstream selects prune what they need.
    */
  private def centroidRanks(e: DataFrame, cent: DataFrame): DataFrame = {
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid"))
    e.crossJoin(broadcast(cent))
      .withColumn("ccos", round(dot(col("embedding"), col("cent_emb")) /
        (col("nrm") * col("cent_nrm")), 4))
      .withColumn("crank", row_number().over(aw))
  }

  private[graft] def kmeansAssignment(e: DataFrame, cent: DataFrame)
      : DataFrame = {
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2"), col("cid"))
    // centroid norms once per K-row model, not once per N×K joined row
    val centN = cent.withColumn("cent_nrm",
      sqrt(dot(col("cent"), col("cent"))))
    e.crossJoin(broadcast(centN))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
        (lit(1.0) - dot(col("embedding"), col("cent")) /
          (col("nrm") * col("cent_nrm"))).as("d2"))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
        col("d2"))
  }

  private[graft] def kmeansInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = withNorm(Tables.embeddings(s, d))
    val cent = e.filter(col("vec_id") >= CentBase &&
        col("vec_id") < CentBase + KmK)
      .select((col("vec_id") - CentBase).as("cid"),
        col("embedding").cast("array<float>").as("cent"))
    (e, cent)
  }

  private[graft] def kmeans(s: SparkSession, d: String,
      iters: Int = KmIters): (DataFrame, DataFrame, Seq[Double]) = {
    // the loop plans at the session's shuffle width: AQE coalesces the
    // post-shuffle partitions of its model-sized relations (the N×K
    // argmin, a (cid, dim) aggregate of K·Dim rows, a scalar probe).
    // Assignment is a per-vector argmin, independent of partitioning;
    // the update means and the wcss probe are float sums whose order
    // the width moves only below the entry's 2-dp rounding and far
    // below q85's descent margins.
    val (e0, cent0) = kmeansInputs(s, d)
    val e = Scratch.materialize(e0, "q59_e")
    var cent = cent0
    val wcss = Seq.newBuilder[Double]
    var assign: DataFrame = null
    // managed release of the DEAD rounds (the q93 discipline): round
    // k−1's assignment is unreadable the moment cent(k) materializes,
    // and cent(k−1) the moment cent(k) does — without release,
    // localCheckpoint mode pins (iters+1) assignment relations ×
    // warmup+reps in block-manager storage for the session (harmless at
    // this corpus's embedding size, the q93 failure shape if embeddings
    // ever become the wide table). The RETURNED final assign/cent are
    // never released.
    var releasePrevAssign: () => Unit = () => ()
    var releasePrevCent: () => Unit = () => ()
    for (round <- 0 to iters) {
      // materialized: the WCSS probe and the update step both read it
      val (a, relA) = Scratch.materializeManaged(
        kmeansAssignment(e, cent),
        s"q59_assign${round % 2}") // ping-pong scratch names
      assign = a
      // bounded driver probe: one scalar per round
      wcss += assign.agg(sum(col("d2"))).head().getDouble(0)
      if (round < iters) {
        // update step: per-(cluster, dim) means — posexplode keeps the
        // shuffle at (cid, dim, partial sum/count) granularity
        // mean of NORMALIZED vectors: the objective is Σ(1 − cos),
        // and for a fixed assignment the optimal centroid DIRECTION is
        // Σ(x/‖x‖) — a raw-vector mean is norm-weighted, and one
        // large-norm outlier could tilt the update enough to RAISE the
        // objective, breaking the monotone-descent invariant q85 pins
        // TRUE (guaranteed descent needs the unit-vector
        // mean)
        val updated = assign.select(col("cid"), col("nrm"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy(col("cid"), col("dim"))
          .agg(avg(col("v") / col("nrm")).as("m"))
          .groupBy(col("cid"))
          .agg(array_sort(collect_list(struct(col("dim"), col("m"))))
            .as("dm"))
          .select(col("cid"),
            transform(col("dm"), x => x.getField("m").cast("float"))
              .as("new_cent"))
        // a cluster that captured no vectors this round keeps its prior
        // centroid: dropping it would shrink K mid-training and could
        // RAISE the objective (each vector's best-of-fewer is no
        // better), breaking the monotone-descent gate
        // ping-pong like q59_assign: in parquet-scratch mode a FIXED
        // name would overwrite the files the update join is still
        // reading (FAILED_READ_FILE mid-round)
        val (c, relC) = Scratch.materializeManaged(
          cent.join(updated, Seq("cid"), "left")
            .select(col("cid"),
              coalesce(col("new_cent"), col("cent")).as("cent")),
          s"q59_cent${round % 2}")
        cent = c
        // cent(round+1) is durable: everything upstream of it — the
        // previous round's assignment and centroids — is now dead
        releasePrevAssign(); releasePrevAssign = relA
        releasePrevCent(); releasePrevCent = relC
      }
    }
    // after the loop, releasePrevAssign holds round iters−1's
    // assignment — dead since the final cent materialized — but
    // releasePrevCent holds the handle of the FINAL cent (stored when
    // it materialized on the last update round), which is the returned
    // model: release the assignment only, never the returned pair
    releasePrevAssign()
    (assign, cent, wcss.result())
  }

  /** Driver-side k-means model — centroid arrays (KmK × Dim floats),
    * the accepted WCSS trace, and the assignment count: everything the
    * certificate (q85) and the trained-IVF entries (q88/q96) need,
    * bounded by MODEL size so it can live in [[ModelCache]]: the
    * certificates read the cached model instead of re-running the full
    * Lloyd loop.
    */
  private[graft] final case class KmModel(cent: Seq[(Long, Seq[Float])],
      wcss: Seq[Double], nAssigned: Long)

  /** Train (full Lloyd loop), collect the model-sized outputs, refresh
    * the shared cache, and hand back the assignment relation for q59's
    * own summary. Training entries ALWAYS come through here — their
    * bench cost stays honest, and the cache can't serve a stale model.
    */
  private def kmeansTrainRefresh(s: SparkSession, d: String)
      : (KmModel, DataFrame) = {
    val (assign, cent, wcss) = kmeans(s, d)
    import s.implicits._
    val rows = cent.select(col("cid"), col("cent"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1) // KmK rows
    val m = ModelCache.put("kmeans", d,
      KmModel(rows, wcss, assign.count()))
    (m, assign)
  }

  private def kmeansModelCached(s: SparkSession, d: String): KmModel =
    ModelCache.getOrCompute("kmeans", d)(kmeansTrainRefresh(s, d)._1)

  /** The cached model back as the (cid, cent) relation [[kmeans]]
    * returns — collected floats round-trip exactly, so a consumer sees
    * bit-identical centroids either way.
    */
  private def centOf(s: SparkSession, m: KmModel): DataFrame = {
    import s.implicits._
    m.cent.toDF("cid", "cent")
      .select(col("cid"), col("cent").cast("array<float>").as("cent"))
  }

  /** Per-cluster training summary of [[kmeans]]. */
  private def q59(s: SparkSession, d: String): DataFrame = {
    val (_, assign) = kmeansTrainRefresh(s, d)
    assign.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("d2")), 2).as("sum_dissim"))
      .orderBy(col("cid"))
  }

  /** SemDeDup-style semantic dedup (q70, Abbas et al. 2023): cluster the
    * embedding space with the coarse quantizer, then WITHIN each cluster
    * drop every vector that has a lower-id neighbor at cosine ≥ τ — the
    * embedding-space answer to "these two documents say the same thing
    * in different words", which no text hash (q30/q61) or shingle
    * signature (q32/q33) can see.
    *
    * Scale shape: identical to the IVF build (q37) — centroids are a
    * broadcast 8-row table, assignment is one narrow argmax pass, and
    * the pair join runs per cluster id (hash-partitioned inverted
    * lists), never all-pairs; with balanced clusters the candidate set
    * is Σ nᵢ² ≈ N²/C, and at real scale C grows with N (trained by the
    * q59 k-means) so cluster size — and the per-task pair work — stays
    * constant. The drop rule (any lower-id τ-neighbor in-cluster) is
    * deterministic, so a re-run keeps byte-identical survivors.
    */
  /** q70's verdict relation, un-ordered: every vector's coarse cluster
    * and its lowest-id cosine ≥ τ in-cluster neighbor (`dup_of`, −1 if
    * none). Factored out so the q79 curation audit consumes the SAME
    * subplan the q70 oracle pins — a hand-copy would silently diverge
    * on any tie-break or rounding change.
    */
  private[graft] def semanticDupOf(s: SparkSession, d: String): DataFrame = {
    val e = Scratch.materialize(withNorm(Tables.embeddings(s, d)), "q70_e")
    val cent = seededCent(e)
    val assign = centroidRanks(e, cent)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"))
    val a = assign.select(col("vec_id").as("vec_a"), col("cid"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assign.select(col("vec_id").as("vec_b"), col("cid"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val dups = a.join(b, "cid")
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_b").as("vec_id"), col("vec_a"),
        round(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 4)
          .as("cos"))
      .filter(col("cos") >= SemTau)
      .groupBy(col("vec_id")).agg(min(col("vec_a")).as("dup_of"))
    assign.select(col("vec_id"), col("cid"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
  }

  private def q70(s: SparkSession, d: String): DataFrame =
    semanticDupOf(s, d)
      .withColumn("kept", col("dup_of") === -1L)
      .orderBy(col("vec_id"))

  /** The q70 subplan as DuckDB CTE text (`e`/`cent`/`assign`/`semdups`)
    * — shared by q70Sql and the q79 audit oracle.
    */
  private[graft] val semanticSqlCtes =
    s"""e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT vec_id AS cid, embedding AS cent_emb, nrm AS cent_nrm
       |  FROM e WHERE vec_id >= $CentBase AND vec_id < ${CentBase + NCent}),
       |assign AS (
       |  SELECT vec_id, embedding, nrm, cid FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm, cent.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${dotSql("e.embedding", "cent.cent_emb")} /
       |          (e.nrm * cent.cent_nrm), 4) DESC, cent.cid) AS crank
       |    FROM e CROSS JOIN cent)
       |  WHERE crank = 1),
       |semdups AS (
       |  SELECT b.vec_id, MIN(a.vec_id) AS dup_of
       |  FROM assign a JOIN assign b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE round(${dotSql("a.embedding", "b.embedding")} /
       |    (a.nrm * b.nrm), 4) >= $SemTau
       |  GROUP BY b.vec_id)""".stripMargin

  private val q70Sql =
    s"""WITH $semanticSqlCtes
       |SELECT s.vec_id, s.cid, COALESCE(dup_of, -1) AS dup_of,
       |  COALESCE(dup_of, -1) = -1 AS kept
       |FROM assign s LEFT JOIN semdups USING (vec_id)
       |ORDER BY s.vec_id""".stripMargin

  /** IVF ANN over the TRAINED coarse quantizer (q88) — the production
    * retrieval shape q37 stops short of: q37 probes deterministic SEED
    * centroids (what its cross-engine oracle needs), while here q59's
    * spherical k-means output becomes the quantizer, so the training
    * stage demonstrably FEEDS retrieval (FAISS's IVF-after-kmeans
    * build). Same audited probe plan as q37 — broadcast centroid model,
    * one narrow assignment pass, hash-partitioned inverted lists, a
    * query brute-forces only its NProbe lists. Rows-only BY DESIGN:
    * trained centroids are float means (q59's rationale — low-bit
    * partial-order dependence makes cross-engine hash parity
    * impossible); the quality gate is AnnRecallSpec's recall floor
    * ABOVE the seeded q37's, plus determinism via KMeansSpec.
    */
  private def q88(s: SparkSession, d: String): DataFrame = {
    val m = kmeansModelCached(s, d)
    ivfQuery(s, d, _ => centOf(s, m).select(col("cid"),
      col("cent").as("cent_emb"),
      sqrt(dot(col("cent"), col("cent"))).as("cent_nrm")))
  }

  /** K-means CERTIFICATE (q85) — the driver-verifiable projection of
    * the rows-only q59: float centroid means are partial-order-
    * dependent in the low bits, so the trained model can never hash
    * cross-engine, but the training CLAIMS can. One row per Lloyd
    * round: the exhaustive-assignment count (every vector assigned
    * exactly once — the oracle re-derives the corpus count
    * independently) and the monotone-descent flag (this round's
    * objective did not INCREASE — Lloyd's true invariant: a converged
    * run legitimately plateaus bit-exactly, so strict descent would
    * fail a perfectly correct training run at its fixed point), pinned
    * TRUE by the oracle. A regression in the update step — a dropped
    * cluster, a raised objective, a lost vector — breaks this row's
    * hash even though the centroids themselves are unoracleable.
    */
  private def q85(s: SparkSession, d: String): DataFrame = {
    val m = kmeansModelCached(s, d)
    import s.implicits._
    m.wcss.indices.map { r =>
      (r.toLong, m.nAssigned, r == 0 || m.wcss(r) <= m.wcss(r - 1))
    }.toDF("round", "n_assigned", "improved")
      .orderBy(col("round"))
  }

  private val q85Sql =
    s"""SELECT unnest(range(0, ${KmIters + 1})) AS round,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_assigned,
       |  TRUE AS improved
       |ORDER BY round""".stripMargin

  private[graft] val NQc = 50L // certificate query set (AnnRecallSpec's width)
  private[graft] val CertRecallFloor = 0.40 // measured minus slack, see q96 doc
  private[graft] val CertProbeCap = 0.40 // ~NProbe/NCent plus skew allowance

  /** Trained-IVF CERTIFICATE (q96) — the driver-verifiable projection of
    * the rows-only q88, closing the catalog's last oracle gap: trained
    * centroids are float means and can never hash
    * cross-engine, but the RETRIEVAL CLAIMS can. The entry emits the
    * EXACT brute-force top-5 relation for the 50-query certificate set
    * — which DuckDB re-derives independently, a real parity check on
    * the ground-truth leg — and rides two oracle-pinned booleans along
    * every row: recall@5 of the trained-IVF shortlist against that
    * exact top-5 stayed at or above `CertRecallFloor`, and the probed
    * fraction stayed at or under `CertProbeCap` (recall alone can be
    * gamed — probe everything and recall is 1, brute force wearing an
    * index). A regression in the training, the assignment, or the probe
    * flips a boolean and breaks the row hash, even though the centroids
    * themselves are unoracleable. Floors from measured values minus
    * slack: recall@5 0.51/0.50/0.48 and probed 0.254/0.253/0.250 at
    * sf0.001/sf0.01/sf0.1 (printed to stderr each run for drift
    * visibility).
    */
  private def q96(s: SparkSession, d: String): DataFrame = {
    val m = kmeansModelCached(s, d)
    def trainedCent(e: DataFrame): DataFrame = centOf(s, m)
      .select(col("cid"), col("cent").as("cent_emb"),
        sqrt(dot(col("cent"), col("cent"))).as("cent_nrm"))
    val (short0, frac) =
      ivfQueryWithFraction(s, d, trainedCent, nProbe = NProbe, nq = NQc)
    val shortlist = short0.select(col("query_id"), col("cand_id"))
    val e = withNorm(Tables.embeddings(s, d))
    val q = e.filter(col("vec_id") < NQc)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val cand = e.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    val exact = Scratch.materialize(
      broadcast(q).join(cand, col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          round(dot(col("q_emb"), col("c_emb")) /
            (col("q_nrm") * col("c_nrm")), 4).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5), "q96_exact")
    // bounded driver probes — certificate-set sized, never corpus rows
    val nq = exact.select(col("query_id")).distinct().count()
    val hits = exact.join(shortlist, Seq("query_id", "cand_id")).count()
    val recall = if (nq == 0) 0.0 else hits.toDouble / (5.0 * nq)
    System.err.println(
      f"[q96] trained-IVF recall@5=$recall%.3f probed=$frac%.3f " +
        f"(floors: >=$CertRecallFloor%.2f, <=$CertProbeCap%.2f)")
    exact.select(col("query_id"), col("cand_id"), col("cosine"), col("rank"),
      lit(recall >= CertRecallFloor).as("recall_floor_met"),
      lit(frac <= CertProbeCap).as("probed_capped"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val q96Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    round(${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 4) AS cosine
       |  FROM e q JOIN e c ON q.vec_id < $NQc AND q.vec_id <> c.vec_id)
       |SELECT query_id, cand_id, cosine, rank,
       |  TRUE AS recall_floor_met, TRUE AS probed_capped FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** SEMANTIC decontamination (q89) — the third leg of the
    * decontamination family: q54 removes exact lexical overlap, q80
    * scales that with a Bloom prune, and this flags train items whose
    * EMBEDDING sits ≥ τ cosine from ANY held-out eval item — the
    * paraphrase leak the lexical legs cannot see (the reason modern
    * pipelines decontaminate in embedding space as well).
    *
    * Shape: the eval shard (vec_id ≡ 3 mod 10 — the q54/q79
    * convention) is BROADCAST with pre-computed norms; the corpus side
    * streams through one narrow pass of codegen'd FloatDot kernels;
    * partial-aggregation (max) collapses each train vector's eval
    * comparisons MAP-SIDE, so the only shuffle is one
    * (vec_id, max_cos) row per train vector. At 100 TB: the corpus
    * never re-partitions and never carries embeddings through an
    * exchange — work is |train|·|eval| kernel calls, the exact-answer
    * floor; past broadcastable eval shards the approximate path is
    * q88's trained-IVF probe (assign both sides, bound the max within
    * probed cells), traded as recall-vs-cost like any ANN query.
    */
  private def q89(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val ev = e.filter(col("vec_id") % 10 === 3)
      .select(col("embedding").as("ev_emb"), col("nrm").as("ev_nrm"))
    e.filter(col("vec_id") % 10 =!= 3)
      .crossJoin(broadcast(ev))
      .select(col("vec_id"),
        (dot(col("embedding"), col("ev_emb")) / (col("nrm") * col("ev_nrm")))
          .as("cos"))
      .groupBy(col("vec_id"))
      .agg(round(max(col("cos")), 4).as("max_cos"))
      .withColumn("contaminated", col("max_cos") >= CosDecontTau)
      .orderBy(col("vec_id"))
  }

  private val q89Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |ev AS (SELECT embedding AS ev_emb, nrm AS ev_nrm
       |       FROM e WHERE vec_id % 10 = 3),
       |mx AS (
       |  SELECT t.vec_id,
       |    round(max(${dotSql("t.embedding", "ev_emb")} /
       |      (t.nrm * ev_nrm)), 4) AS max_cos
       |  FROM e t CROSS JOIN ev WHERE t.vec_id % 10 <> 3
       |  GROUP BY t.vec_id)
       |SELECT vec_id, max_cos, max_cos >= $CosDecontTau AS contaminated
       |FROM mx ORDER BY vec_id""".stripMargin

  /** HYBRID retrieval (q94) — reciprocal-rank fusion of the lexical and
    * vector legs, the RAG-era serving operator: BM25 (q47's scored
    * relation, same fixed query) and cosine-to-query-embedding (vec 0)
    * each produce a top-`FuseTopK` list via TakeOrdered, and the two
    * lists fuse by RRF. Fusion arithmetic is INTEGER (contribution =
    * SCALE div (60 + rank)) so the fused order is bit-exact in both
    * engines — the q93 fixed-point discipline.
    *
    * Scale shape: each leg ends in TakeOrderedAndProject (never a
    * global sort materialization); ranks are then assigned by a window
    * over ≤ FuseTopK rows — bounded by a constant, not the corpus —
    * and the fusion join is two 100-row lists. This is exactly how
    * distributed RRF serves in practice: fuse top-K lists, never
    * full rankings.
    */
  private val RrfK = 60L
  private val RrfScale = 1000000L
  private val FuseTopK = 100

  private def q94(s: SparkSession, d: String): DataFrame = {
    val lex = TextAnalysis.bm25Scored(s, d)
      .orderBy(col("bm25").desc, col("doc_id")).limit(FuseTopK)
      .withColumn("r_lex",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_lex"))
    val e = withNorm(Tables.embeddings(s, d))
    val q0 = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val vec = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q0))
      .select(col("vec_id").as("doc_id"),
        round(dot(col("embedding"), col("q_emb")) /
          (col("nrm") * col("q_nrm")), 4).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(FuseTopK)
      .withColumn("r_vec",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(expr(s"$RrfScale div ($RrfK + r_lex)"), lit(0L)) +
          coalesce(expr(s"$RrfScale div ($RrfK + r_vec)"), lit(0L))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .withColumn("fused_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .orderBy(col("fused_rank")) // explicit total order (Conventions)
  }

  // lazy (the q99Sql discipline): this val interpolates ANOTHER
  // OBJECT's val, and the eager-init graph is cyclic — TextAnalysis
  // touches Dedup.PackTokRe, Dedup's q34Sql touches this object
  // (dotSql), and an eager read here then sees TextAnalysis
  // MID-init with bm25SqlCtes still null, baking "WITH null," into
  // the oracle (caught by the full gate the same day it was
  // introduced)
  private lazy val q94Sql =
    s"""WITH ${TextAnalysis.bm25SqlCtes},
       |lex AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
       |  FROM (SELECT doc_id, bm25 FROM bm
       |        ORDER BY bm25 DESC, doc_id LIMIT $FuseTopK)),
       |e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |q0 AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id = 0),
       |vec0 AS (
       |  SELECT e.vec_id AS doc_id,
       |    round(${dotSql("e.embedding", "q_emb")} / (e.nrm * q_nrm), 4) AS cos
       |  FROM e CROSS JOIN q0 WHERE e.vec_id <> 0),
       |vec AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r_vec
       |  FROM (SELECT doc_id, cos FROM vec0
       |        ORDER BY cos DESC, doc_id LIMIT $FuseTopK)),
       |fused AS (
       |  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |    CAST(COALESCE($RrfScale // ($RrfK + r_lex), 0) +
       |         COALESCE($RrfScale // ($RrfK + r_vec), 0) AS BIGINT) AS rrf
       |  FROM lex l FULL JOIN vec v ON l.doc_id = v.doc_id)
       |SELECT doc_id, rrf,
       |  CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS fused_rank
       |FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 20)
       |ORDER BY fused_rank""".stripMargin

  // ---- q121: truncation-dimension evaluation (the Matryoshka/MRL
  // decision report): before committing an index to a truncated
  // embedding dimension — the standard serving-cost dial with
  // MRL-trained encoders — measure what the truncation DOES to
  // retrieval: per query, the overlap between the full-dimension
  // exact top-K and the first-`MrlDim`-dimensions top-K (both
  // re-normalized), plus whether the top-1 survives. Low overlap =
  // this corpus/encoder cannot serve at that dimension; the report is
  // the evidence a 4× index-cost saving is (or is not) free.
  //
  // Output is INTEGER-only (overlap counts, top-1 ids, a boolean) —
  // floats exist only inside the two rankings, under q35's exact
  // parity discipline (ordered-fold double dots, round 4, cand_id
  // tie-break).
  //
  // Scale shape: q35's eval-harness class — a broadcast of the NQ
  // sampled queries against the candidate scan, one narrow pass
  // computing BOTH cosines per pair (the truncated dot is a prefix
  // slice of the same row), two rank windows over (query_id, cand_id,
  // cf, ct) ids, ONE aggregate. Runs over a query SAMPLE by design;
  // the production index the decision feeds is q37/q88's IVF.
  private[graft] final val MrlDim = 16

  /** The eval core, parameterized by truncation dimension — exposed
    * for MatryoshkaSpec (identity at full dimension, a constructed
    * ranking flip at tdim=2). */
  private[graft] def mrlEval(emb: DataFrame, tdim: Int): DataFrame = {
    val e = withNorm(emb)
      .withColumn("temb", slice(col("embedding"), 1, tdim))
      .withColumn("tnrm", sqrt(dot(col("temb"), col("temb"))))
    val q = e.filter(col("vec_id") < NQ).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col("temb").as("q_temb"), col("nrm").as("q_nrm"),
      col("tnrm").as("q_tnrm"))
    val cand = e.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"), col("temb").as("c_temb"),
      col("nrm").as("c_nrm"), col("tnrm").as("c_tnrm"))
    val scored = broadcast(q).join(cand, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(dot(col("q_emb"), col("c_emb")) /
          (col("q_nrm") * col("c_nrm")), 4).as("cf"),
        round(dot(col("q_temb"), col("c_temb")) /
          (col("q_tnrm") * col("c_tnrm")), 4).as("ct"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cf").desc, col("cand_id"))
    val wt = Window.partitionBy(col("query_id"))
      .orderBy(col("ct").desc, col("cand_id"))
    scored
      .withColumn("rf", row_number().over(wf))
      .withColumn("rt", row_number().over(wt))
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("rf") <= K && col("rt") <= K, 1L).otherwise(0L))
          .as("n_overlap"),
        max(when(col("rf") === 1, col("cand_id"))).as("top1_full"),
        max(when(col("rt") === 1, col("cand_id"))).as("top1_trunc"))
      .select(col("query_id"), col("n_overlap"),
        col("top1_full"), col("top1_trunc"),
        (col("top1_full") === col("top1_trunc")).as("top1_match"))
      .orderBy(col("query_id"))
  }

  private def q121(s: SparkSession, d: String): DataFrame =
    mrlEval(Tables.embeddings(s, d), MrlDim)

  private val q121Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, embedding[1:$MrlDim] AS temb,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |e2 AS (
       |  SELECT vec_id, embedding, temb, nrm,
       |    sqrt(${dotSql("temb", "temb")}) AS tnrm FROM e),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    round(${dotSql("q.embedding", "c.embedding")} /
       |      (q.nrm * c.nrm), 4) AS cf,
       |    round(${dotSql("q.temb", "c.temb")} /
       |      (q.tnrm * c.tnrm), 4) AS ct
       |  FROM e2 q JOIN e2 c ON q.vec_id < $NQ AND q.vec_id <> c.vec_id),
       |rk AS (
       |  SELECT query_id, cand_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cf DESC, cand_id) AS rf,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ct DESC, cand_id) AS rt
       |  FROM scored)
       |SELECT query_id,
       |  CAST(SUM(CASE WHEN rf <= $K AND rt <= $K THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_overlap,
       |  MAX(CASE WHEN rf = 1 THEN cand_id END) AS top1_full,
       |  MAX(CASE WHEN rt = 1 THEN cand_id END) AS top1_trunc,
       |  (MAX(CASE WHEN rf = 1 THEN cand_id END) =
       |   MAX(CASE WHEN rt = 1 THEN cand_id END)) AS top1_match
       |FROM rk GROUP BY query_id ORDER BY query_id""".stripMargin

  override def entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q35_topk_cosine", q35, Some(q35Sql)),
    CatalogEntry("q121_matryoshka_eval", q121, Some(q121Sql)),
    CatalogEntry("q36_ann_lsh", q36, Some(q36Sql)),
    CatalogEntry("q37_ann_ivf", q37, Some(q37Sql)),
    CatalogEntry("q57_ann_pq", q57, Some(q57Sql)),
    CatalogEntry("q59_kmeans_train", q59, None),
    CatalogEntry("q70_semantic_dedup", q70, Some(q70Sql)),
    CatalogEntry("q85_kmeans_certificate", q85, Some(q85Sql)),
    CatalogEntry("q88_ann_ivf_trained", q88, None),
    CatalogEntry("q96_ann_certificate", q96, Some(q96Sql)),
    CatalogEntry("q99_incremental_semantic", q99, Some(q99Sql)),
    CatalogEntry("q101_sem_index_merge", q101, Some(q101Sql)),
    CatalogEntry("q103_sem_index_retract", q103, Some(q103Sql)),
    CatalogEntry("q89_semantic_decontaminate", q89, Some(q89Sql)),
    CatalogEntry("q94_hybrid_rrf", q94, Some(q94Sql)),
  )
}
