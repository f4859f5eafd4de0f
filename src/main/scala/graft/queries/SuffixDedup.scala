package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ANY-LENGTH exact duplicated-substring detection — the suffix-sort
  * re-expression of ExactSubstr dedup (Lee et al., "Deduplicating
  * Training Data Makes Language Models Better", 2022), closing the
  * fixed-k gap of q64/q72: those anchor on 8-gram units, so a
  * duplicated run of 6 or 7 tokens is invisible to them, while here any
  * cross-document duplicated run of ≥ `MinSpan` tokens is reported at
  * its EXACT total length, however long.
  *
  * Method (the distributed suffix-array shape):
  *   1. Every token position emits its bounded suffix — the next
  *      `MaxSpan` tokens — plus the 48-bit hash of its `MinSpan`-token
  *      prefix ("gram"). Positions with fewer than MinSpan tokens left
  *      cannot start a ≥ MinSpan match and emit nothing.
  *   2. Suffixes hash-partition by gram and sort lexicographically
  *      within the partition (same gram ⇒ same partition, and within a
  *      partition same-gram rows are sort-contiguous, because any row
  *      sorting between two rows that share a prefix shares it too).
  *   3. Two O(1)-state streaming scans (ascending and descending sort)
  *      compute each suffix's LONGEST common prefix with any suffix
  *      from ANOTHER document: in suffix-sorted order, the best
  *      other-document partner is the nearest one above or below, with
  *      LCP = the running MIN of adjacent LCPs in between (the classic
  *      suffix-array/LCP-interval property), which is a linear
  *      recurrence — bestUp(r) = adj(r) if the previous row is
  *      other-document, else min(adj(r), bestUp(prev)) — needing only
  *      the previous row as state. No per-group buffering: a boilerplate
  *      gram duplicated a million times streams through, it does not
  *      materialize.
  *   4. Positions with LCP ≥ MinSpan each cover the interval
  *      [pos, pos+lcp); the per-document union of those intervals IS
  *      the union of ALL cross-document duplicated runs ≥ MinSpan, at
  *      exact length: a duplicated run of length m contributes
  *      [i, i+min(m−i, MaxSpan)) at every start i ≤ m−MinSpan, and
  *      those intervals chain into [0, m) for ANY m ≥ MinSpan — the
  *      MaxSpan bound caps per-position memory, not reportable span
  *      length. Interval union is one window (running max of span
  *      ends), the islands-and-gaps trick generalized to intervals.
  *
  * Scale shape: the one wide exchange carries (gram-hash, ≤ MaxSpan
  * TOKEN-ID longs, doc_id, pos) rows for the ~tenth of positions whose
  * gram is cross-document (the census prune) — suffix content must
  * move because suffix ORDER is the algorithm, but the payload is
  * bounded at MaxSpan × 8 bytes per row after hash encoding (Lee et
  * al.'s own distributed variant shuffles suffixes the same way, as
  * strings). Everything after the scans is narrow integer triples.
  * Skew: one mega-hot gram lands its group in one task, but the scans
  * are O(group) streaming with O(1) state, not O(group) memory.
  *
  * The DuckDB oracle is deliberately a DIFFERENT formulation — max
  * pairwise token-LCP within each gram group (quadratic, oracle-scale
  * only) — so the hash gate cross-checks the recurrence, the sort-order
  * reasoning, and the interval union against an independent spelling.
  */
object SuffixDedup extends QueryModule {

  private[graft] val MinSpan = 6 // report threshold (< q64's ExactK = 8)
  private[graft] val MaxSpan = 16 // bounded suffix window (memory cap)

  /** Token class: runs of non-whitespace PRINTABLE-RANGE characters —
    * control chars (< 0x20) separate tokens exactly like whitespace,
    * the same class the oracle uses. (When suffixes were shipped as
    * space-JOINED STRINGS this was also load-bearing for sort
    * contiguity — a "token" continuing with a char below 0x20 could
    * wedge between a suffix and its extension in string order and break
    * the LCP-interval min. With id-encoded long arrays the wedge is
    * structurally impossible — comparison is element-wise over exact
    * token ids — but the class stays so Spark and the oracle tokenize
    * identically; the adversarial spec still pins the behavior.)
    */
  private val WordRe = "[^\\s\\x00-\\x1f]+".r

  /** (doc_id, pos, sfx: array<bigint>, gh): every position's bounded
    * suffix as TOKEN-ID longs plus a 64-bit routing hash of its
    * MinSpan-id prefix.
    *
    * Hash encoding, not a dictionary (measured): the suffix exchange is
    * the engine's widest shuffle — cross-doc-gram positions × MaxSpan
    * blowup, shipped TWICE (ascending + descending scan) — and it must
    * not carry token STRINGS. An exact distinct-token dictionary (dense
    * int ids) needs an encode leg — a corpus-wide token join plus a
    * per-doc regroup — that profiles as ~65% of the post-prune suffix
    * build at 30×. Token ids are `xxhash64` of the token bytes, computed INLINE
    * in the per-doc tokenize pass: the encode leg is embarrassingly
    * parallel — no dictionary, no corpus-wide join, no regroup
    * shuffle — and trivially deterministic under lineage recompute.
    *
    * The algorithm is ORDER-AGNOSTIC in the token alphabet:
    * lexicographic order over id sequences is a valid suffix order for
    * ANY token→id INJECTION (the shared-prefix convexity argument
    * needs only element-wise comparison), and LCPs depend on id
    * EQUALITY alone — so correctness needs exactly injectivity over
    * this corpus's vocabulary, which the eager census below REFUSES
    * loudly instead of assuming: one vocab-sized aggregate compares
    * distinct tokens against distinct hashes (collision odds ~7e-12 at
    * a 50k vocab, ~3% at an adversarial 10⁹ vocab — real enough to
    * check, rare enough that the exact-dictionary fallback lives in
    * history, commit-tagged, not in the hot path). The lambda uses
    * `XXH64.hashUTF8String(…, 42)`, the exact function behind SQL
    * `xxhash64`, so the check and the encode are provably the same
    * hash. Decoding never happens: the rewrite edge (q83) re-reads
    * original text by position.
    */
  private[graft] def suffixEntries(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // injectivity gate, EAGER: a wrong answer must be impossible, not
    // improbable. distinct() FIRST (partial-agg shrinks the exchange to
    // vocab size map-side), THEN the two countDistincts — in one agg
    // over corpus tokens they would expand every token row twice; over
    // the vocab relation the expand is Heaps-law small. The xxhash64
    // here is the SQL twin of the lambda's XXH64 call.
    //
    // Verdict CACHED per canonicalized input plan: q82,
    // q83, and q98 each call suffixEntries on the same documents
    // relation, and the gate's corpus tokenize was paid three times
    // for one immutable input. Same canonical plan ⇒ same files ⇒ same
    // vocabulary within a session, so a green verdict is reusable; a
    // FAILED gate still throws on every call (only success is cached).
    val gateKey = docs.queryExecution.logical.canonicalized.toString
    ModelCache.getOrCompute("sfxgate", gateKey) {
      val vc = docs.select(col("text")).as[String]
        .flatMap(t => WordRe.findAllIn(t))
        .toDF("tok").distinct()
        .agg(count(lit(1)).as("n"),
          countDistinct(xxhash64(col("tok"))).as("nh"))
        .head()
      if (vc.getLong(0) != vc.getLong(1))
        throw new IllegalStateException(
          s"token-hash collision: ${vc.getLong(0)} distinct tokens hash to " +
            s"${vc.getLong(1)} distinct ids — rebuild with an exact dictionary")
      java.lang.Boolean.TRUE
    }
    // per-doc token-id sequences, MATERIALIZED: the compact pivot of the
    // whole pipeline (8 bytes/token as one long array per doc) — both
    // the gram census below and the pruned wide emit re-read it, so the
    // corpus tokenize+hash runs once (the `qsa_tids` ledger leg)
    val tidsByDoc = Scratch.materialize(
      docs.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          (id, WordRe.findAllIn(text).map(t =>
            org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
              org.apache.spark.unsafe.types.UTF8String.fromString(t), 42L))
            .toArray)
        }
        .toDF("doc_id", "tids"),
      "qsa_tids")
    // SINGLE-DOC-GRAM PRUNE (r09, measured): a position whose
    // MinSpan-gram occurs in only ONE document can never reach
    // ell ≥ MinSpan — every LCP ≥ MinSpan partner shares the exact
    // MinSpan prefix, i.e. the gram. The census drops those positions
    // BEFORE the MaxSpan-wide suffix rows exist, so the engine's widest
    // exchange (materialize + two repartition-sorts) carries only the
    // cross-document-repeated ~tenth of the corpus (9.2% of positions
    // at sf0.1; token-suffixed replication preserves the fraction at
    // every scale). Output is provably unchanged: the filter drops
    // whole exact-gram groups (all of a gram's rows share gh), a
    // surviving row's partners all share its gram and therefore
    // survive, and the scan's group boundary is the adjacent-LCP
    // < MinSpan test, not partition neighborhood. A gh COLLISION only
    // merges two grams' census rows — min≠max goes conservative (keeps
    // both), never drops a cross-doc gram. Cost: two narrow per-position
    // shuffles (census agg + keep join) and a doc-keyed regroup, all on
    // 16-byte rows.
    // FNV-1a over the MinSpan-id gram: routing + census identity only
    // (equal grams must collide; unequal grams colliding merely shares
    // a partition / goes conservative) — gram IDENTITY downstream is
    // the exact slice. A `val` function, NOT a local def: a def lifts
    // to a method of the enclosing (non-serializable) object and drags
    // it into the task closure.
    val fnv: (Array[Long], Int) => Long = (arr, i) => {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < MinSpan) { h ^= arr(i + j); h *= 0x100000001b3L; j += 1 }
      h
    }
    val census = tidsByDoc
      .as[(Long, Seq[Long])]
      .flatMap { case (id, tidSeq) =>
        val arr = tidSeq.toArray
        (0 to arr.length - MinSpan).iterator.map(i => (id, i.toLong, fnv(arr, i)))
      }
      .toDF("doc_id", "pos", "gh")
    val hot = census.groupBy(col("gh"))
      .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("crossdoc"))
      .filter(col("crossdoc")).select(col("gh"))
    val keeps = census.join(hot, "gh")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("kps"))
    tidsByDoc.join(keeps, "doc_id")
      .as[(Long, Seq[Long], Seq[Long])]
      .flatMap { case (id, tidSeq, kps) =>
        val arr = tidSeq.toArray
        kps.iterator.map { p =>
          val i = p.toInt
          val sfx = java.util.Arrays.copyOfRange(arr,
            i, math.min(i + MaxSpan, arr.length))
          (id, p, sfx, fnv(arr, i))
        }
      }
      .toDF("doc_id", "pos", "sfx", "gh")
  }

  /** Token-level longest common prefix of two id-encoded suffixes. */
  private def tokenLcp(a: Array[Long], b: Array[Long]): Long = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a(i) == b(i)) i += 1
    i.toLong
  }

  /** One directional scan: over suffix-sorted rows, each row's LCP to
    * the nearest preceding other-document suffix (−1 if none within its
    * gram group). Group boundaries need no gram column: adjacent LCP
    * < MinSpan IS the boundary (two suffixes share a gram iff they
    * share ≥ MinSpan tokens).
    */
  private def directionalLcp(sorted: DataFrame): DataFrame = {
    import sorted.sparkSession.implicits._
    sorted.select(col("doc_id"), col("pos"), col("sfx"))
      .as[(Long, Long, Array[Long])]
      .mapPartitions { it =>
        var prevDoc = Long.MinValue
        var prevToks: Array[Long] = null
        var run = -1L
        it.map { case (doc, pos, toks) =>
          if (prevToks == null) run = -1L
          else {
            val adj = tokenLcp(prevToks, toks)
            if (adj < MinSpan) run = -1L // new gram group
            else if (prevDoc != doc) run = adj
            else if (run >= 0) run = math.min(run, adj)
            // else: still no other-doc row above in this group
          }
          prevDoc = doc; prevToks = toks
          (doc, pos, run)
        }
      }
      .toDF("doc_id", "pos", "run")
  }

  /** (doc_id, pos, ell): each position's exact max-LCP to any other
    * document (≥ MinSpan rows only), from the two directional scans.
    */
  private[graft] def positionLcp(docs: DataFrame): DataFrame =
    positionLcpFrom(Scratch.materialize(suffixEntries(docs), "qsa_sfx"))

  /** Interval union per document: [pos, pos+ell) intervals merge into
    * maximal spans via a running max of prior span ends.
    */
  private def spanUnion(ell: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    ell
      .withColumn("cum_end", max(col("pos") + col("ell")).over(prior))
      .withColumn("brk",
        (col("pos") > coalesce(col("cum_end"), lit(-1L))).cast("long"))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos") + col("ell")) - min(col("pos"))).as("span_toks"))
      .select(col("doc_id"), col("span_start"), col("span_toks"))
  }

  /** Any-length duplicated spans over an arbitrary `(doc_id, text)`
    * relation — the q82 kernel, exposed for the planted-corpus spec.
    */
  private[graft] def spansOf(docs: DataFrame): DataFrame =
    spanUnion(positionLcp(docs))
      .orderBy(col("doc_id"), col("span_start"))

  /** Any-length duplicated spans (q82): every maximal cross-document
    * duplicated token run of ≥ MinSpan tokens, exact length.
    */
  private def q82(s: SparkSession, d: String): DataFrame =
    spansOf(Tables.documents(s, d))

  // ------------------------------------------------------------ oracle

  /** DuckDB twins share these CTEs: bounded suffix token lists, then
    * per-position max token-LCP to another document via the quadratic
    * within-gram pair join (independent of the Spark recurrence), then
    * the interval union.
    */
  private def ellSqlCtesOn(src: String) = {
    s"""docs AS (
       |  SELECT doc_id, regexp_extract_all(text, '[^\\s\\x00-\\x1f]+') AS ws
       |  FROM $src),
       |sfx AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    list_slice(ws, i, least(i + $MaxSpan - 1, len(ws))) AS toks
       |  FROM (SELECT doc_id, ws,
       |          unnest(range(1, greatest(len(ws) - $MinSpan + 2, 1))) AS i
       |        FROM docs)),
       |pairs AS (
       |  SELECT a.doc_id, a.pos,
       |    list_sum(list_transform(range(1, $MaxSpan + 1),
       |      j -> CASE WHEN j <= least(len(a.toks), len(b.toks))
       |                 AND list_slice(a.toks, 1, j) = list_slice(b.toks, 1, j)
       |           THEN 1 ELSE 0 END)) AS lcp
       |  FROM sfx a JOIN sfx b
       |    ON list_slice(a.toks, 1, $MinSpan) = list_slice(b.toks, 1, $MinSpan)
       |   AND a.doc_id <> b.doc_id),
       |ell AS (
       |  SELECT doc_id, pos, CAST(least(MAX(lcp), $MaxSpan) AS BIGINT) AS ell
       |  FROM pairs GROUP BY doc_id, pos
       |  HAVING MAX(lcp) >= $MinSpan),
       |isl AS (
       |  SELECT doc_id, pos, ell,
       |    CASE WHEN pos > COALESCE(MAX(pos + ell) OVER (
       |        PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS brk
       |  FROM ell),
       |grps AS (
       |  SELECT doc_id, pos, ell,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM isl),
       |spans AS (
       |  SELECT doc_id, MIN(pos) AS span_start,
       |    MAX(pos + ell) - MIN(pos) AS span_toks, grp
       |  FROM grps GROUP BY doc_id, grp)""".stripMargin
  }

  private val ellSqlCtes = ellSqlCtesOn("documents")

  private val q82Sql =
    s"""WITH $ellSqlCtes
       |SELECT doc_id, span_start, span_toks FROM spans
       |ORDER BY doc_id, span_start""".stripMargin

  // --------------------------------------------------------------- q83

  /** Any-length duplicated-span CUT (q83) — q82 made actionable, the
    * q72 policy generalized from fixed 8-grams to exact spans: each
    * span is cut from every document EXCEPT the canonical copy, where
    * "canonical" is keep-first at span granularity — a span survives in
    * document d iff no position inside it has a MinSpan-gram whose
    * minimal owning doc_id is below d. Deterministic, and the canonical
    * copy survives verbatim while every later copy loses exactly the
    * duplicated run.
    *
    * Scale shape: everything up to the cut-position table is q82's
    * bounded-suffix pipeline plus ONE narrow (gram-hash → min doc_id)
    * aggregation; cut positions reduce to one integer array per
    * affected document; the rewrite is a per-row JVM map. Text crosses
    * an exchange only as the bounded suffix payload and the final
    * corpus→rewrite join (q72's audited discipline).
    */
  private def q83(s: SparkSession, d: String): DataFrame =
    cutsOf(Tables.documents(s, d))

  /** The q83 kernel over an arbitrary `(doc_id, text)` relation. */
  private[graft] def cutsOf(docs: DataFrame): DataFrame =
    cutsRelation(docs).orderBy(col("doc_id"))

  /** [[cutsOf]] without the presentation sort — the composable form
    * (q98 materializes it once and feeds two consumers; a trailing
    * global sort would force a range exchange carrying clean_text).
    */
  private[graft] def cutsRelation(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sfx = Scratch.materialize(suffixEntries(docs), "q83_sfx")
    // per-gram canonical owner, keyed by the EXACT MinSpan id slice as
    // MinSpan long columns — gram identity exactly as collision-free
    // as the token encoding itself (injectivity is gate-checked in
    // suffixEntries; the pre-dictionary design keyed a 48-bit hash
    // whose collisions could merge two grams' owners) and, unlike
    // grouping on the array slice itself, plain long columns keep the
    // aggregation and join inside codegen'd hash operators
    val gramKeys = (0 until MinSpan).map { j =>
      element_at(col("sfx"), j + 1).as(s"g$j")
    }
    val gramNames = (0 until MinSpan).map(j => s"g$j")
    val gmin = sfx.select(col("doc_id") +: gramKeys: _*)
      .groupBy(gramNames.map(col): _*).agg(min(col("doc_id")).as("min_doc"))
    val pmin = sfx.select(Seq(col("doc_id"), col("pos")) ++ gramKeys: _*)
      .join(gmin, gramNames)
      .select(col("doc_id"), col("pos"), col("min_doc"))
    val ell = positionLcpFrom(sfx)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    val islands = ell.join(pmin, Seq("doc_id", "pos"))
      .withColumn("cum_end", max(col("pos") + col("ell")).over(prior))
      .withColumn("brk",
        (col("pos") > coalesce(col("cum_end"), lit(-1L))).cast("long"))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        max(col("pos") + col("ell")).as("span_end"),
        min(col("min_doc")).as("span_min_doc"))
    val cuts = islands
      .filter(col("span_min_doc") < col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end") - 1)).as("tpos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("tpos")).as("cut_pos"))
    docs.select(col("doc_id"), col("text"))
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("cut_pos"), array().cast("array<long>")).as("cut_pos"))
      .as[(Long, String, Seq[Long])]
      .map { case (id, text, cutSeq) =>
        val words = WordRe.findAllIn(text).toArray
        val cut = cutSeq.toSet
        val kept = words.iterator.zipWithIndex
          .filterNot { case (_, i) => cut(i.toLong) }.map(_._1)
        (id, cutSeq.size.toLong, kept.mkString(" "))
      }
      .toDF("doc_id", "n_cut", "clean_text")
  }

  /** The LCP scans over a materialized suffix table (q83 shares the
    * table with its gram-min aggregation — one execution). Each
    * directional scan carries its OWN repartition-by-gram: the hash
    * exchange must sit between the materialization and the sort, because
    * a parquet-backed scratch re-read (cluster mode) re-splits files by
    * byte ranges and would otherwise scatter a gram group across scan
    * partitions, silently breaking the recurrence chain.
    */
  private[graft] def positionLcpFrom(sfx: DataFrame): DataFrame = {
    // leading tid0 long: the sorter gets a radix-friendly fixed-width
    // prefix key (ArrayType has no sort prefix, so sorting on the array
    // alone falls back to full record compares per pair); pk IS the
    // first array element, so (pk, sfx, ...) is trivially the same
    // total order as (sfx, ...) under the same signed-long comparator
    val pk = element_at(col("sfx"), 1)
    val up = directionalLcp(sfx.repartition(col("gh"))
      .sortWithinPartitions(pk, col("sfx"), col("doc_id"), col("pos")))
    val down = directionalLcp(sfx.repartition(col("gh"))
      .sortWithinPartitions(pk.desc, col("sfx").desc, col("doc_id").desc,
        col("pos").desc))
    up.unionByName(down)
      .groupBy(col("doc_id"), col("pos"))
      .agg(max(col("run")).as("ell"))
      .filter(col("ell") >= MinSpan)
  }

  /** The full cut-position CTE stack over an arbitrary source relation
    * (`$src` must expose doc_id, text): [[ellSqlCtesOn]]'s suffix/LCP/
    * span stack plus gram ownership, cut spans, the covered-position
    * set, and the kept-token relation — shared by q83 (src=documents)
    * and the composed q98 (src=dek).
    */
  private def cutSqlCtesOn(src: String): String = {
    val gramParts = (0 until MinSpan).map(j => s"ws[i + $j]")
      .mkString(" || ' ' || ")
    s"""${ellSqlCtesOn(src)},
       |grams AS (
       |  SELECT doc_id, i - 1 AS pos, md5($gramParts) AS dg
       |  FROM (SELECT doc_id, ws,
       |          unnest(range(1, greatest(len(ws) - $MinSpan + 2, 1))) AS i
       |        FROM docs)),
       |gmin AS (
       |  SELECT dg, MIN(doc_id) AS min_doc FROM grams GROUP BY dg),
       |pmin AS (
       |  SELECT g.doc_id, g.pos, m.min_doc
       |  FROM grams g JOIN gmin m USING (dg)),
       |cutspans AS (
       |  SELECT s.doc_id, s.span_start, s.span_start + s.span_toks AS span_end
       |  FROM spans s
       |  WHERE (SELECT MIN(p.min_doc) FROM pmin p
       |         WHERE p.doc_id = s.doc_id
       |           AND p.pos >= s.span_start
       |           AND p.pos < s.span_start + s.span_toks) < s.doc_id),
       |cover AS (
       |  SELECT DISTINCT doc_id, unnest(range(span_start, span_end)) AS tpos
       |  FROM cutspans),
       |toks AS (
       |  SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM docs),
       |kept AS (
       |  SELECT t.doc_id, t.i, t.ws[t.i] AS w
       |  FROM toks t LEFT JOIN cover c
       |    ON c.doc_id = t.doc_id AND c.tpos = t.i - 1
       |  WHERE c.doc_id IS NULL)""".stripMargin
  }

  private val q83Sql =
    s"""WITH ${cutSqlCtesOn("documents")}
       |SELECT d.doc_id,
       |  COALESCE((SELECT COUNT(*) FROM cover c WHERE c.doc_id = d.doc_id),
       |    0) AS n_cut,
       |  COALESCE((SELECT string_agg(w, ' ' ORDER BY i) FROM kept k
       |    WHERE k.doc_id = d.doc_id), '') AS clean_text
       |FROM documents d
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- q98

  /** Suffix-composed pipeline manifest (q98) — r06 verdict #5: q67's
    * capstone composition with the STRONGER dedup leg. Same quality +
    * decontamination front half (ONE definition, [[Dedup.dekOf]] /
    * [[Dedup.dekSqlCtes]] — shared with q67 so the two composed oracles
    * pin the same survivor set), but instead of dropping whole MinHash
    * near-dup documents, every cross-document duplicated token run
    * ≥ MinSpan is CUT at exact length (the q83 kernel over the
    * survivors, canonical copy kept verbatim), and the CLEANED text is
    * packed into training sequences (q62's windows).
    *
    * Proves the suffix pipeline composes with quality/decont/packing:
    * the bounded-suffix exchange is the only place text moves by value
    * (its audited design), the rewrite join is the one corpus-linear
    * doc_id-keyed join, and the packing path sees only token counts —
    * clean_text never crosses an exchange in the final plan
    * (PlanAuditSpec pins it). Oracle: the q67-style unrolled CTE
    * composition — dek front half + the independent quadratic cut
    * stack + packing windows — pins end-to-end VALUES.
    */
  private def q98(s: SparkSession, d: String): DataFrame = {
    val dek = Dedup.dekOf(s, d, "q98_dek")
    // materialized once: feeds the token-count leg AND the n_cut leg —
    // and cuts the lineage so the final plan's exchanges carry only
    // integers past this point
    val cut = Scratch.materialize(cutsRelation(dek), "q98_cut")
    val toks = Dedup.packToks(
      cut.select(col("doc_id"), col("clean_text").as("text")))
    Dedup.packFromToks(toks)
      .join(cut.select(col("doc_id"), col("n_cut")), "doc_id")
      .orderBy(col("doc_id"))
  }

  private val q98Sql =
    s"""WITH ${Dedup.dekSqlCtes},
       |${cutSqlCtesOn("dek")},
       |clean AS (
       |  SELECT d.doc_id,
       |    COALESCE((SELECT COUNT(*) FROM cover c WHERE c.doc_id = d.doc_id),
       |      0) AS n_cut,
       |    COALESCE((SELECT string_agg(w, ' ' ORDER BY i) FROM kept k
       |      WHERE k.doc_id = d.doc_id), '') AS clean_text
       |  FROM dek d),
       |ptoks AS (
       |  SELECT doc_id, n_cut,
       |    CAST(len(regexp_extract_all(clean_text,
       |      '${Dedup.PackTokRe}')) AS BIGINT) AS n_tok,
       |    ${Dedup.hex12ToLongSql("md5('pack|' || CAST(doc_id AS VARCHAR))")}
       |      % ${Dedup.PackShards} AS shard
       |  FROM clean),
       |offs AS (
       |  SELECT doc_id, shard, n_tok, n_cut,
       |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
       |      AS start_off
       |  FROM ptoks)
       |SELECT doc_id, shard,
       |  CAST(start_off // ${Dedup.PackBudget} AS BIGINT) AS seq_no,
       |  CAST(start_off % ${Dedup.PackBudget} AS BIGINT) AS seq_off,
       |  n_tok, n_cut
       |FROM offs ORDER BY doc_id""".stripMargin

  override def entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q82_exactsubstr_any", q82, Some(q82Sql)),
    CatalogEntry("q83_cut_any_spans", q83, Some(q83Sql)),
    CatalogEntry("q98_pipeline_suffix", q98, Some(q98Sql)),
  )
}
