package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.Exchange

/** Plan-shape contracts for the catalog — the properties that make these
  * queries survive a 100× scale-up, asserted structurally so a refactor
  * that silently breaks pushdown/broadcast/narrowness fails CI, not the
  * 100 TB run. (Complements the value-level oracle gate.)
  */
class PlanAuditSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** AQE wraps the tree in AdaptiveSparkPlanExec, which hides the nodes
    * from `collect` until runtime — the audit inspects the static shape,
    * so build the plan with AQE off.
    */
  private def planOf(name: String): SparkPlan = {
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val df = SparkEntry.queries(name)(spark, sf)
      df.queryExecution.executedPlan
    } finally spark.conf.set(key, saved)
  }
  private def planString(name: String): String = planOf(name).toString
  // NOTE: entries whose executed plan hides the pipeline behind a
  // Scratch manifest cut (q114/q117/q118/q122) are audited via the
  // shared `planOfDf` helper (defined with the lifecycle audits below)
  // against their un-materialized builders.

  test("q02: filter and projection reach the parquet scan") {
    val s = planString("q02_filter_project")
    assert(s.contains("PushedFilters: ["), s)
    assert(!s.contains("PushedFilters: []"), s)
  }

  test("q06: dimension join is a broadcast, not a shuffle join") {
    val s = planString("q06_broadcast_join")
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("q38: signature stage is narrow — no exchange below the final sort") {
    // bandEntries must stay a per-row map chain: the only exchange
    // allowed in the whole plan is the ORDER BY's range partitioning
    val exchanges = planOf("q38_band_entries").collect { case e: Exchange => e }
    assert(exchanges.size <= 1,
      s"signature stage grew a shuffle:\n${planString("q38_band_entries")}")
  }

  test("q30: exact-dedup shuffle carries digests, not document text") {
    val exchanges = planOf("q30_exact_dedup").collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q24: top-k is TakeOrdered, never a global sort materialization") {
    val s = planString("q24_trigram_topk")
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("q31: near-dup pair join is bucketed, never a cartesian product") {
    val s = planString("q31_ngram_jaccard")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q37: centroid fan-out is a broadcast of the tiny side") {
    // the crossJoin against the NCent-row centroid table must be a
    // broadcast nested loop of THAT table, and the probe join a hash join
    val s = planString("q37_ann_ivf")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q36: multiprobe candidate join broadcasts the probe side, never a cartesian") {
    // queries explode to L*(1+PT) probe keys but stay NQ-bounded — that
    // side must broadcast into a hash join on bkt; the corpus side must
    // never cross-join
    val s = planString("q36_ann_lsh")
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q49: bucketed co-located join has ZERO exchanges below the join") {
    // both sides are bucketed by the join key at write time; the join
    // must consume that partitioning — any Exchange under the join
    // means the bucket layout was ignored and both facts reshuffle.
    // (At sf0.001 Catalyst would broadcast the small side — ALSO
    // shuffle-free but not the property under test; disable broadcast
    // to force the co-located path a 100 TB fact⋈fact join takes.)
    val bkey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(bkey)
    spark.conf.set(bkey, "-1")
    try {
      val joins = planOf("q49_bucketed_join").collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, planString("q49_bucketed_join"))
      joins.foreach { j =>
        val below = j.collect { case e: Exchange => e }
        assert(below.isEmpty,
          s"bucketed join reshuffles its inputs:\n${planString("q49_bucketed_join")}")
      }
    } finally spark.conf.set(bkey, saved)
  }

  test("q52: salted join partitions on (key, salt), spreading each hot key R ways") {
    val s = planString("q52_salted_skew_join")
    // the join's exchanges must cluster on the salt too — partitioning
    // on event_type alone is exactly the straggler the salt removes
    assert(s.contains("ShuffledHashJoin") || s.contains("SortMergeJoin"), s)
    val saltPartitioned = "hashpartitioning\\([^)]*salt".r
      .findFirstIn(s).isDefined
    assert(saltPartitioned, s"no salt in join partitioning:\n$s")
  }

  test("q46: both as-of carry-forwards stay fused in ONE Window node") {
    val n = planOf("q46_asof_join").collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.size
    assert(n == 1, s"as-of join grew to $n Window nodes (one sort+shuffle each)")
  }

  test("q47: per-term df and corpus stats reach the score join as broadcasts") {
    val s = planString("q47_bm25")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q54: eval-shard n-gram set broadcasts; corpus text never shuffles") {
    // benchmark suites are MBs, the corpus is 100 TB: the decontamination
    // join must broadcast the eval side, and no exchange may carry the
    // raw text column
    val p = planOf("q54_decontaminate")
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    p.collect { case e: Exchange => e }.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q80: bloom prune precedes the confirm join; corpus text never shuffles") {
    // the two-phase shape: the corpus gram stream must pass the JVM
    // bloom filter stage BEFORE any join, and (as in q54) no exchange
    // may carry raw document text
    val p = planOf("q80_bloom_decontaminate")
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    // the prune is a typed filter over the deserialized gram stream —
    // visible as a filter/map over serializefromobject below the join
    assert(s.contains("SerializeFromObject"), s)
    p.collect { case e: Exchange => e }.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q53: repetition-signal shuffles carry gram counts, never raw text") {
    val exchanges = planOf("q53_repetition_signals")
      .collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q57: PQ codebook and ADC tables broadcast; no cartesian anywhere") {
    val s = planString("q57_ann_pq")
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q58: simhash pair join is band-key equality, never all-pairs") {
    val s = planString("q58_simhash_pairs")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q62: packing shuffles token counts per shard, never document text") {
    // the concat-then-chunk assignment must stay one window partitioned
    // by shard: every exchange carries (doc_id, n_tok, shard)-shaped
    // rows only — shipping text to pack offsets would move the corpus
    val exchanges = planOf("q62_pack_sequences").collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q63: phase-1 cap window partitions on (source, salt), spreading hot domains") {
    // a per-source row_number alone is the 100 TB straggler; the first
    // window's exchange must cluster on the salt expression too, and
    // text must never shuffle (the cap needs only doc_id/source/n_chars)
    val p = planOf("q63_source_cap")
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected 2 windows:\n$p")
    // bottom-most window = phase 1: must cluster on (source, salt)
    assert(windows.last.partitionSpec.size == 2,
      s"phase-1 window lost its salt:\n$p")
    assert(windows.head.partitionSpec.size == 1,
      s"phase-2 window must be per-source only:\n$p")
    p.collect { case e: Exchange => e }.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q64: duplicated-substring shuffles carry gram hashes, never gram text") {
    // grams fold to 48-bit hashes in the scan stage; the dup groupBy,
    // position join, and span window must shuffle (doc_id, pos, h)
    // shapes only — a 'g'/'text' column in any exchange means the
    // corpus is moving
    val exchanges = planOf("q64_exact_substr_spans")
      .collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(a => a.name == "text" || a.name == "g"),
      s"gram/corpus text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q65: the LM broadcasts to the corpus; corpus text never shuffles") {
    // the bigram model is the small side by construction — both lookup
    // joins must be broadcasts, and no corpus-side exchange may carry
    // text (the only corpus exchange is per-doc integer totals)
    val p = planOf("q65_lm_surprisal")
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"), s)
    p.collect { case e: Exchange => e }.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q67: the composed pipeline never shuffles text and never goes all-pairs") {
    // quality/decont/dedup/pack composed: token counts project out
    // before the canonical join, so no exchange anywhere in the final
    // plan may carry the text column; the pair stage must stay banded
    val p = planOf("q67_pipeline_manifest")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q98: the suffix-composed pipeline packs on integers — no text in any final exchange") {
    // quality/decont → any-length suffix cut → pack: the cut relation
    // materializes once, so every exchange in the FINAL plan (packing
    // windows + the n_cut join) must carry token counts and ids only —
    // neither the original text nor the rewritten clean_text may cross
    // a wire there (the bounded-suffix exchange lives behind the
    // scratch barrier and is audited by its own design bound)
    val p = planOf("q98_pipeline_suffix")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(a => a.name == "text" || a.name == "clean_text"),
      s"text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q99: delta probes hash-join the frozen lists — no cartesian, no all-pairs") {
    // the delta-vs-frozen-index join must stay keyed on the list id
    // (cid): a cartesian or nested-loop here is the all-pairs shape
    // the inverted lists exist to avoid (the centroid assignment's own
    // broadcast is audited at the q59 kernel; it sits behind the
    // scratch barrier in this entry's final plan)
    val p = planOf("q99_incremental_semantic")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("SortMergeJoin") || s.contains("BroadcastHashJoin") ||
      s.contains("ShuffledHashJoin"), s)
  }

  test("q59: k-means assignment broadcasts the centroid model, never a cartesian") {
    // the catalog entry's final plan reads checkpointed scratch (which
    // hides subplans), so audit the assignment stage itself: the
    // crossJoin against the 8-row centroid table must be a broadcast of
    // THAT table; the N-row side must never cartesian
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val (e, cent) = graft.queries.Similarity.kmeansInputs(spark, sf)
      val s = graft.queries.Similarity.kmeansAssignment(e, cent)
        .queryExecution.executedPlan.toString
      assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
      assert(!s.contains("CartesianProduct"), s)
    } finally spark.conf.set(key, saved)
  }

  test("q68: mixture prefix sum is two-level — per-(source,salt) windows, broadcast offsets") {
    // a single per-source running-sum window is the 100 TB straggler;
    // the doc-level window must cluster on (source, salt), the salt-
    // offset/budget joins must broadcast, and text must never shuffle
    val p = planOf("q68_mixture_sample")
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected 2 windows:\n$p")
    val sizes = windows.map(_.partitionSpec.size).sorted
    assert(sizes == Seq(1, 2),
      s"doc-level window lost its salt (or salt-offset window grew):\n$p")
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    p.collect { case e: Exchange => e }.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q69: delta-vs-index joins shuffle keys only, never text, never all-pairs") {
    // the frozen index and the delta probe join on norm-hash / band_key
    // equality; any text column in an exchange means the corpus moved,
    // and a nested-loop join means the index degenerated to all-pairs
    val p = planOf("q69_incremental_dedup")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q72: text crosses an exchange only as the rewrite payload, at most twice") {
    // the gram/dup/cut stages must shuffle (doc_id, pos, h) and integer
    // cut positions only; text may appear in exactly the corpus→rewrite
    // join (source text) and the ordered output (clean text) — counting
    // text-bearing exchanges, not just presence, pins that
    val p = planOf("q72_cut_dup_spans")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    val srcText = exchanges.count(_.child.output.exists(_.name == "text"))
    val outText = exchanges.count(_.child.output.exists(_.name == "clean_text"))
    assert(srcText <= 1, s"source text shuffled $srcText times:\n$p")
    assert(outText <= 1, s"clean text shuffled $outText times:\n$p")
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "g"),
      s"gram text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q70: semantic-dedup pair join is per-cluster hash equality, centroids broadcast") {
    // assignment = broadcast of the 8-row centroid table; the intra-
    // cluster pair join must be a hash join on cid (inverted lists),
    // never a cartesian over the corpus
    val s = planString("q70_semantic_dedup")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin") ||
      s.contains("BroadcastHashJoin"), s)
  }

  test("q74: feature model broadcasts, selection is TakeOrdered, words never shuffle") {
    // the 256-row bucket model must ride to the corpus side as a
    // broadcast, the top-N as TakeOrdered (never a global sort), and no
    // exchange may carry the word column or text — the corpus shuffles
    // (doc_id, bucket) integers only
    val p = planOf("q74_dsir_select")
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"), s)
    assert(s.contains("TakeOrderedAndProject"), s)
    p.collect { case e: Exchange => e }.foreach(e => assert(
      !e.child.output.exists(a => a.name == "w" || a.name == "text"),
      s"word/text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q75: only token ids and offsets shuffle; word vocabulary broadcasts") {
    // the encoder is a broadcast join against the bounded word-id
    // vocabulary; corpus-side exchanges carry integer columns (doc_id,
    // positions, tok, offsets) — never text, and never per-occurrence
    // words (doc_id + w together). The one legitimate word-bearing
    // exchange is the VOCABULARY aggregation: (w, freq), bounded by
    // distinct-word count, no doc_id. The encoder stage is audited
    // un-pinned (q75 checkpoints it, hiding its join from the final
    // plan), the packing stage through the catalog entry.
    val enc = graft.queries.Selection.q75Toks(spark, sf)
      .queryExecution.executedPlan
    val es = enc.toString
    assert(es.contains("BroadcastHashJoin"), es)
    assert(!es.contains("SortMergeJoin") && !es.contains("CartesianProduct"),
      es)
    val audit = (p: SparkPlan) =>
      p.collect { case e: Exchange => e }.foreach { e =>
        val names = e.child.output.map(_.name)
        assert(!names.contains("text"),
          s"raw text crosses the wire: $names")
        assert(!(names.contains("w") && names.contains("doc_id")),
          s"per-occurrence words cross the wire: $names")
      }
    audit(enc)
    audit(planOf("q75_train_sequences"))
  }

  test("q76: epoch rank is two-level — per-(epoch,salt) windows, broadcast offsets") {
    // one window per epoch is the 100 TB straggler: the rank window
    // must cluster on (epoch, salt); the salt-offset table (≤ epochs ×
    // salts rows) must come back as a broadcast; no exchange may carry
    // text — the whole manifest is four integer columns
    val p = planOf("q76_epoch_shuffle")
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected 2 windows:\n$p")
    assert(windows.map(_.partitionSpec.size).sorted == Seq(1, 2),
      s"rank window lost its salt (or the offset window grew):\n$p")
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    p.collect { case e: Exchange => e }.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q77: one shard exchange of integer triples; text never shuffles") {
    // the packer's only data movement is the hash partition on shard
    // (plus the presentation sort's range exchange); both must carry
    // the (doc_id, n_tok, shard) projection, never text
    val p = planOf("q77_bestfit_pack")
    val ex = p.collect { case e: Exchange => e }
    assert(ex.size <= 2, s"unexpected exchanges:\n$p")
    ex.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q79: signal fusion shuffles ids/flags only — no text, no grams, no embeddings, no cartesian") {
    // each signal keeps its own audited plan (broadcast eval grams,
    // hash-groupBy norm digests, per-cluster pair join); the fusion
    // joins (doc_id, flag) pairs, so NOTHING wide may cross an
    // exchange: not text, not the gram column, not embedding vectors
    val p = planOf("q79_curation_audit")
    val s = p.toString
    assert(s.contains("BroadcastHashJoin"), s) // eval gram set broadcasts
    assert(!s.contains("CartesianProduct"), s)
    p.collect { case e: Exchange => e }.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
    // gram strings may SHUFFLE only on the eval side (the benchmark
    // suite is MBs — its distinct() pays one small exchange before the
    // broadcast; the broadcast itself is not a shuffle); the corpus
    // gram stream must reach the broadcast join without an exchange of
    // its own
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val gramEx = p.collect { case e: ShuffleExchangeExec
      if e.child.output.exists(_.name == "s") => e }
    assert(gramEx.size <= 1, s"corpus grams cross the wire:\n$p")
    // embedding vectors may shuffle ONLY keyed by their cluster (the
    // q70 inverted-list pair join) or their own vec_id (the
    // nearest-centroid ranking window) — never range/unkeyed
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    p.collect { case e: ShuffleExchangeExec
      if e.child.output.exists(_.name == "embedding") => e }
      .foreach(e => e.outputPartitioning match {
        case hp: HashPartitioning => assert(
          hp.expressions.exists(_.references.exists(a =>
            a.name == "cid" || a.name == "vec_id")),
          s"embedding exchange not cid/vec_id-keyed: $e")
        case other => fail(s"embedding exchange not hash-partitioned: $other")
      })
  }

  test("q89: eval shard broadcasts; corpus max collapses map-side before the only row shuffle") {
    val s = planString("q89_semantic_decontaminate")
    // the eval fan-out must be a broadcast of THAT side, never a
    // shuffled cartesian of the corpus
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    // partial max before the exchange: per-vector eval comparisons
    // never cross the wire individually
    assert(s.contains("partial_max") || s.contains("partial max") ||
      "HashAggregate.*max".r.findAllIn(s).size >= 2, s)
  }

  test("q91: pivot shuffles aggregate state only — corpus rows never reach the pivot exchange") {
    val s = planString("q91_pivot")
    // Spark plans pivot as TWO aggregates: corpus → (month, pri) counts
    // (partial_count BEFORE its exchange — the corpus-scale stage),
    // then pivotfirst over the already-tiny group relation. The audit
    // pins both: map-side combine on the wide stage, and the single
    // count(1) pass (five pivot columns must not become five scans).
    assert(s.contains("partial_count"), s)
    assert(s.contains("partial_pivotfirst"), s)
    assert("FileScan".r.findAllIn(s).size == 1,
      s"pivot must read the table once:\n$s")
  }

  test("q92: forward-fill window partitions BY KEY, never one global series") {
    val s = planString("q92_gapfill")
    assert(s.contains("windowspecdefinition(pri#"),
      s"fill window must partition by pri:\n$s")
    // the calendar spine rides a broadcast, not a shuffle of the grid
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"), s)
  }

  test("q94: both retrieval legs end in TakeOrdered; rank windows see only the top-K lists") {
    val s = planString("q94_hybrid_rrf")
    assert("TakeOrderedAndProject".r.findAllIn(s).size >= 2,
      s"each leg must cap via TakeOrdered, not a global sort:\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q90: fuzzy link is an equi-join on the blocking key, never a cartesian") {
    val s = planString("q90_fuzzy_link")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin") ||
      s.contains("BroadcastHashJoin"), s)
  }

  test("q104: eval grams ride a broadcast; gram strings never shuffle; text crosses at most twice") {
    // q54's broadcast discipline fused with q72's rewrite shape: the
    // only gram comparison is map-side against the broadcast eval set,
    // so no exchange may carry a gram column, and text appears only in
    // the rewrite join and the ordered output. Audit the un-materialized
    // builder — the entry's cut-table manifest cut hides the gram
    // pipeline from its executed plan.
    val docs104 = Tables.documents(spark, sf)
    val p = planOfDf(graft.queries.Dedup.cutRewrite(
      docs104.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 3),
      graft.queries.Dedup.decontCuts(docs104)))
    val s = p.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      s"eval gram set must broadcast:\n$s")
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    // the ban is on CORPUS gram strings ("g", the 100 TB side); the
    // EVAL set ("s") crossing its own distinct/broadcast exchanges is
    // the design — it is megabytes by assumption, exactly like q54
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "g"),
      s"corpus gram strings cross the wire: ${e.child.output.map(_.name)}"))
    val srcText = exchanges.count(_.child.output.exists(_.name == "text"))
    val outText = exchanges.count(_.child.output.exists(_.name == "clean_text"))
    assert(srcText <= 1, s"source text shuffled $srcText times:\n$p")
    assert(outText <= 1, s"clean text shuffled $outText times:\n$p")
  }

  test("q108: chunk retrieval caps via TakeOrdered; stats broadcast; chunk text never shuffles") {
    // q47's discipline at chunk granularity: the ranking must end in a
    // top-k (never a global sort materialization), the per-term df and
    // corpus-stat relations must broadcast back, and the only columns
    // crossing any exchange are narrow per-chunk stats — never the
    // chunk text and never the source text
    val p = planOf("q108_chunk_retrieval")
    val s = p.toString
    assert(s.contains("TakeOrderedAndProject"), s"top-k must be TakeOrdered:\n$s")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    p.collect { case e: Exchange => e }.foreach(e => assert(
      !e.child.output.exists(a => a.name == "chunk_text" || a.name == "text"),
      s"chunk/source text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q105: chunking is one stateless map — the only exchange is the output sort") {
    // the chunker must stay the map side of whatever consumes it: no
    // join, no aggregation, no exchange AT ALL in the chunk subtree
    // (audited un-materialized — the entry's manifest cut hides it);
    // the entry plan keeps only the ORDER BY's range partitioning of
    // the checkpointed chunk rows
    val chunker = planOfDf(graft.queries.Selection.chunkDocs(
      Tables.documents(spark, sf)))
    assert(chunker.collect { case e: Exchange => e }.isEmpty,
      s"chunking must not shuffle:\n$chunker")
    assert(!chunker.toString.contains("Join"),
      s"chunking must not join:\n$chunker")
    val p = planOf("q105_chunk_windows")
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.size == 1, s"entry must keep only the sort:\n$p")
    assert(exchanges.head.outputPartitioning.getClass.getSimpleName
      .contains("RangePartitioning"), s"sole exchange must be the sort:\n$p")
  }

  test("q106: eval grams ride a broadcast into the corpus scan; text never shuffles") {
    // the leak report is q54's discipline viewed from the eval side:
    // the corpus-wide work is the gram flatMap + a map-side broadcast
    // join; every exchange after it carries surviving (gram, doc)
    // pairs — LEAK-sized — and document text crosses no wire at all.
    // Audit the un-materialized builder — the entry's manifest cut
    // hides the gram pipelines from its executed plan.
    val p = planOfDf(graft.queries.Dedup.leakReport(
      Tables.documents(spark, sf)))
    val s = p.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      s"eval gram set must broadcast:\n$s")
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"document text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  // ---- pre-sort boundary classifier: a global ORDER BY's range partitioner
  // SAMPLES its child, executing it once before the real pass — but the
  // sampling pass REUSES any shuffle map outputs below it, so only a
  // chain that runs scan-stage all the way up to the sort pays its work
  // twice. Decision rule for "should this entry get a pre-sort manifest
  // cut":
  //   shuffle-terminated → the cut is a NO-OP — don't add one (q104 and
  //     q106 measure exactly this and stay plain);
  //   scan-stage → the sampler re-runs the whole chain — cut iff the
  //     chain is expensive (q105/q112: real ~2×, so they cut; q126's
  //     single cheap scan absorbs the second pass and stays plain).

  /** Classify what the demo sort's range sampler would re-execute:
    * "shuffle-terminated" (an Exchange below the sort bounds the
    * re-run), "scan-stage" (the sampler re-runs from the scan), or
    * "no-sort" (no range exchange — e.g. TakeOrdered entries). */
  private def preSortBoundary(p: SparkPlan): String = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    p.collectFirst {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    } match {
      case None => "no-sort"
      case Some(e) =>
        if (e.child.collectFirst { case x: Exchange => x }.nonEmpty)
          "shuffle-terminated"
        else "scan-stage"
    }
  }

  test("pre-sort boundary: q104's demo sort is shuffle-terminated (cut would be a no-op); q126's is scan-stage (absorbed: one cheap scan)") {
    assert(preSortBoundary(planOf("q104_decont_cut")) == "shuffle-terminated",
      planString("q104_decont_cut"))
    assert(preSortBoundary(planOf("q126_c4_filters")) == "scan-stage",
      planString("q126_c4_filters"))
    // and the classifier knows a TakeOrdered entry has no range sort
    assert(preSortBoundary(planOf("q03_join_topk_revenue")) == "no-sort",
      planString("q03_join_topk_revenue"))
  }

  // ---- frozen-index lifecycle (q100–q103): the STRUCTURAL claims the
  // FrozenIndexSpec equivalences assume, machine-checked

  /** Executed plan with AQE off, for a DataFrame built inline (the
    * planOf twin for lifecycle plans that need constructed files).
    */
  private def planOfDf(mk: => DataFrame): SparkPlan = {
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try mk.queryExecution.executedPlan
    finally spark.conf.set(key, saved)
  }

  private def scanPaths(p: SparkPlan): Seq[String] =
    p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten

  test("q100 lifecycle: merge+probe over a STORED lexical index never re-opens the frozen corpus file") {
    // the daily-promote cost claim — |delta| signature work + a state
    // merge, frozen TEXT never read — as a file-identity fact: the
    // merged-probe plan's scans cover index state, delta, and probe
    // files ONLY; the frozen corpus path must not appear anywhere
    val sess = spark
    import sess.implicits._
    val fDir = tmpDir("a100-frozen"); val dDir = tmpDir("a100-delta")
    val pDir = tmpDir("a100-probe")
    Seq((10L, "aa bb cc dd ee ff gg hh"), (11L, "ii jj kk ll mm nn oo pp"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(fDir)
    Seq((20L, "qq rr ss tt uu vv ww xx"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dDir)
    Seq((30L, "aa bb cc dd ee ff gg hh"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(pDir)
    val dirs = Seq("exact" -> tmpDir("a100-se"), "bands" -> tmpDir("a100-sb"))
    graft.queries.Dedup.lexPartials(spark.read.parquet(fDir), 0L)
      .write(dirs, 0L)
    val stored = graft.queries.Partials.read(spark, dirs,
      graft.queries.Dedup.LexShape)
    val p = planOfDf(graft.queries.Dedup.probeLex(
      graft.queries.Dedup.collapseLex(stored.union(
        graft.queries.Dedup.lexPartials(spark.read.parquet(dDir), 1L))),
      spark.read.parquet(pDir)))
    val paths = scanPaths(p)
    assert(paths.nonEmpty, p.toString)
    assert(!paths.exists(_.contains(fDir)),
      s"merge lifecycle re-opened the frozen corpus file:\n${paths.mkString("\n")}")
    // and the probe's exchanges carry (hash, id) / (band_key, id) rows,
    // never document text
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q101 lifecycle: merge+probe over STORED semantic lists never re-opens the frozen embedding file") {
    val sess = spark
    import sess.implicits._
    def dotc(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      graft.functions.VectorFunctions.floatDot(x, y)
    def embAt(dir: String, rows: (Long, Array[Float])*): Unit =
      rows.toDF("vec_id", "embedding")
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding"),
          org.apache.spark.sql.functions.sqrt(
            dotc(org.apache.spark.sql.functions.col("embedding"),
              org.apache.spark.sql.functions.col("embedding"))).as("nrm"))
        .write.mode("overwrite").parquet(dir)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val fDir = tmpDir("a101-frozen"); val dDir = tmpDir("a101-delta")
    val pDir = tmpDir("a101-probe"); val cDir = tmpDir("a101-cent")
    embAt(fDir, 200L -> v(0.9, 0.1, 0, 0), 201L -> v(0.1, 0.95, 0, 0))
    embAt(dDir, 150L -> v(0.88, 0.12, 0, 0))
    embAt(pDir, 1L -> v(0.89, 0.11, 0, 0))
    Seq((0L, v(1, 0, 0, 0)), (1L, v(0, 1, 0, 0))).toDF("cid", "cent_emb")
      .select(org.apache.spark.sql.functions.col("cid"),
        org.apache.spark.sql.functions.col("cent_emb"),
        org.apache.spark.sql.functions.sqrt(
          dotc(org.apache.spark.sql.functions.col("cent_emb"),
            org.apache.spark.sql.functions.col("cent_emb"))).as("cent_nrm"))
      .write.mode("overwrite").parquet(cDir)
    val cent = spark.read.parquet(cDir)
    val dirs = Seq("lists" -> tmpDir("a101-sl"))
    graft.queries.Similarity.semPartials(spark.read.parquet(fDir), cent, 0L)
      .write(dirs, 0L)
    val stored = graft.queries.Partials.read(spark, dirs,
      graft.queries.Similarity.SemShape)
    val p = planOfDf(graft.queries.Similarity.probeSem(
      graft.queries.Similarity.collapseSem(cent, stored.union(
        graft.queries.Similarity.semPartials(
          spark.read.parquet(dDir), cent, 1L))),
      spark.read.parquet(pDir)))
    val paths = scanPaths(p)
    assert(paths.nonEmpty, p.toString)
    assert(!paths.exists(_.contains(fDir)),
      s"semantic merge lifecycle re-opened the frozen embedding file:\n${paths.mkString("\n")}")
    // list-keyed probe: the only nested loop allowed is the broadcast
    // centroid fan-out (the q59-audited kernel); all-pairs is banned
    assert(!p.toString.contains("CartesianProduct"), p.toString)
  }

  test("q102: retraction probe shuffles keys/ids only — never text, never all-pairs") {
    val p = planOf("q102_lex_index_retract")
    val s = p.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s)
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q103: demoted-index probe stays list-keyed — no cartesian beyond the broadcast centroid fan-out") {
    val s = planOf("q103_sem_index_retract").toString
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("SortMergeJoin") || s.contains("BroadcastHashJoin") ||
      s.contains("ShuffledHashJoin"), s)
  }

  test("q109: snapshot diff reduces to digests in the scan stage — text never crosses an exchange") {
    // the 100 TB claim: each side projects to (doc_id, md5) per-row, so
    // the one diff join (plus the output sort) shuffles ids and 32-char
    // digests only
    val p = planOf("q109_corpus_diff")
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
    assert(!p.toString.contains("CartesianProduct"), p.toString)
  }

  test("q111: flip report joins on the (doc_id, cluster, split) spine — no text in exchanges, no cartesian") {
    // both releases' split assignments pre-materialize inside the
    // builder (the CC discipline); the audited plan is the flip join —
    // 8-byte ids, cluster canonicals, 5-char splits, nothing wider
    val p = planOf("q111_split_stability")
    val s = p.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s)
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(a => a.name == "text" || a.name == "ws"),
      s"corpus payload crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q126: the C4 battery is one scan-stage pass — the sole exchange is the output sort") {
    val p = planOf("q126_c4_filters")
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.size == 1, s"rule battery grew a shuffle:\n$p")
    assert(exchanges.head.outputPartitioning.getClass.getSimpleName
      .contains("RangePartitioning"), s"sole exchange must be the sort:\n$p")
    assert(!p.toString.contains("Join"), s"rule battery must not join:\n$p")
  }

  test("q127: containment shuffles digests and ids only — no text, no raw gram strings, no cartesian") {
    // text reduces to (doc_id, md5(gram)) inside the scan-stage
    // mapPartitions; df/sizes/probes/confirm all ride 32-char digests
    // + longs. The probe join is the rarest-gram inverted index —
    // never an all-pairs product.
    val p = planOf("q127_containment")
    val s = p.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), s)
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(a => a.name == "text" || a.name == "s"),
      s"corpus text or raw grams cross the wire: ${e.child.output.map(_.name)}"))
  }

  test("q112: rebalance is a scan-stage hash filter — rates broadcast, no text or window in any exchange") {
    // audit the un-materialized builder — the entry's manifest cut
    // hides the acceptance plan from its executed plan
    val p = planOfDf(graft.queries.Selection.balancedSample(
      Tables.documents(spark, sf)))
    val s = p.toString
    assert(!s.contains("Window"), s)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      s"rate table must broadcast:\n$s")
    val exchanges = p.collect { case e: Exchange => e }
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q114: boilerplate census shuffles digests only — strip is scan-stage against a broadcast chrome set") {
    // the 100 TB claim: the one corpus-wide exchange is the
    // (source, md5(line)) census — the line relation projects to
    // digests in the scan stage, so neither raw text, the token
    // array, nor a constructed line ever crosses the wire; the boiler
    // set joins back as a broadcast and the rewrite is an array
    // filter in the same stage as the scan
    // audit the un-materialized builder — the entry's manifest cut
    // (the q122 lesson) hides the pipeline from its executed plan
    val p = planOfDf(graft.queries.TextAnalysis
      .boilerStrip(Tables.documents(spark, sf)))
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("Window"), s)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      s"chrome set must broadcast:\n$s")
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    val wide = Set("text", "ws", "line", "l", "la", "kept")
    exchanges.foreach(e => assert(
      !e.child.output.exists(a => wide(a.name)),
      s"corpus payload crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q115: census-index merge keeps q114's shape — digest-only exchanges, broadcast chrome, no cartesian") {
    // the lifecycle entry must not regress the base operator's 100 TB
    // posture: the delta build + SUM collapse shuffle (source, lmd5)
    // digests and counts, never text or the constructed lines
    val p = planOf("q115_boiler_index_merge")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("Window"), s)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      s"chrome set must broadcast:\n$s")
    val wide = Set("text", "ws", "line", "l", "la", "kept")
    p.collect { case e: Exchange => e }.foreach(e => assert(
      !e.child.output.exists(a => wide(a.name)),
      s"corpus payload crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q110: curriculum assignment has no window and no text in any exchange") {
    // the decile split must be broadcast-literal comparisons, never a
    // global rank window (the single-partition ntile funnel), and the
    // difficulty plan inherits q65's no-text-exchange shape
    val p = planOf("q110_curriculum_phases")
    val s = p.toString
    assert(!s.contains("Window"), s"curriculum grew a window:\n$s")
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q117: PII redaction is one narrow scan-stage pass — zero shuffles before the manifest cut") {
    // audit the redaction chain itself (the entry materializes the
    // narrow report before its demo sort, hiding the chain)
    import org.apache.spark.sql.functions.{col, md5, length}
    val docs = Tables.documents(spark, sf)
    val p = planOfDf(graft.queries.TextAnalysis.piiRedact(
        docs.select(col("doc_id"),
          graft.queries.TextAnalysis.piiPage(
            col("doc_id"), col("source"), col("text")).as("page")))
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        md5(col("red")), length(col("red"))))
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.isEmpty,
      s"the redactor grew a shuffle:\n$p")
  }

  test("q118: keep-first dedup decides on digests — at most one corpus-text exchange (the reassembly partition)") {
    // winner election and loser marking ride md5(line) digests + ids;
    // the ONE text-bearing exchange permitted is the final doc_id
    // hash partition that brings drop sets to their documents (at this
    // size Catalyst broadcasts the drop sets and even that disappears).
    // Audit the un-materialized builder — the entry's manifest cut
    // hides the pipeline from its executed plan.
    val p = planOfDf(graft.queries.TextAnalysis
      .paragraphDedup(Tables.documents(spark, sf)))
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("Window"), s)
    val wide = Set("text", "ws", "line", "l", "la", "kept")
    val textBearing = p.collect { case e: Exchange => e }
      .count(_.child.output.exists(a => wide(a.name)))
    assert(textBearing <= 1,
      s"more than one corpus-text exchange:\n$s")
  }

  test("q118/q122: the keep-first ELECTION subtree itself is digest-only — no wide column in any of its exchanges") {
    // the builders materialize the drop index (the manifest cut), so
    // the election's winner-groupBy / digest-join / per-doc-agg
    // exchanges are invisible to the tests above (their assertions
    // would be vacuous for this subtree) — audit it directly,
    // un-materialized, via the shared keepFirstDrops spelling
    import graft.queries.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val p = planOfDf(TextAnalysis.keepFirstDrops(
      TextAnalysis.lineIdxDigests(TextAnalysis.pageDocs(docs))))
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("Window"), s)
    val wide = Set("text", "ws", "line", "l", "la", "kept", "page")
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty, s)
    exchanges.foreach(e => assert(
      !e.child.output.exists(a => wide(a.name)),
      s"election shuffles corpus text: ${e.child.output.map(_.name)}\n$s"))
  }

  test("q122: composed cleaning keeps its parents' shapes — census broadcast, ≤1 corpus-text exchange, no cartesian") {
    // audit the manifest plan itself — the entry materializes it
    // before the demo sort, which hides the pipeline from the
    // executed plan of the sorted relation
    val p = planOfDf(graft.queries.TextAnalysis
      .cleanManifest(Tables.documents(spark, sf)))
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("Window"), s)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      s"chrome set must broadcast:\n$s")
    val wide = Set("text", "ws", "line", "l", "la", "surv", "kept", "bs")
    val textBearing = p.collect { case e: Exchange => e }
      .count(_.child.output.exists(a => wide(a.name)))
    assert(textBearing <= 1,
      s"composition grew a corpus-text exchange:\n$s")
  }

  test("q119: hard negatives — eval flags and leak set broadcast, no text in any exchange") {
    val p = planOf("q119_hard_negatives")
    val s = p.toString
    // the pair scorer is a broadcast nested loop over the tiny eval
    // flags; the contamination fence is a broadcast anti join
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("LeftAnti"), s)
    assert(!s.contains("CartesianProduct"), s)
    // broadcasts MAY carry eval grams (that is the design — the
    // benchmark shard ships to every executor); shuffles must not
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        e.asInstanceOf[Exchange]
    }
    assert(shuffles.nonEmpty)
    shuffles.foreach(e => assert(
      !e.child.output.exists(a => a.name == "text" || a.name == "s"),
      s"corpus text or grams cross the wire: ${e.child.output.map(_.name)}"))
  }

  test("q120: fertility rides q71's shape — encoder table broadcasts, no text in any exchange") {
    val p = planOf("q120_tokenizer_fertility")
    assert(p.toString.contains("BroadcastHashJoin"), p.toString)
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach(e => assert(
      !e.child.output.exists(_.name == "text"),
      s"raw text crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("q121: truncation eval — queries broadcast, both cosines in one pass, no vectors in any shuffle") {
    val p = planOf("q121_matryoshka_eval")
    assert(p.toString.contains("BroadcastNestedLoopJoin") ||
      p.toString.contains("BroadcastHashJoin"), p.toString)
    // withNorm's round-robin repartition deliberately spreads the scan
    // across cores before the per-row dot products (q35's shape) — the
    // audit forbids vectors only in KEYED (hash/range) shuffles, where
    // they would ride a join or aggregation
    val keyed = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if !e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] =>
        e
    }
    assert(keyed.nonEmpty)
    val vec = Set("embedding", "temb", "q_emb", "c_emb", "q_temb", "c_temb")
    keyed.foreach(e => assert(
      !e.child.output.exists(a => vec(a.name)),
      s"vector payload crosses the wire: ${e.child.output.map(_.name)}"))
  }

  test("streaming retrieval scorer: zero exchanges — chunk, tokenize, score in one narrow pass") {
    // the stateless-twin claim made structural: run the scorer over a
    // BATCH relation (same plan builder the stream executes per
    // micro-batch) and require a shuffle-free plan
    val docs = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val stats = graft.streaming.StreamingRetrieval.frozenStats(docs)
    val p = graft.streaming.StreamingRetrieval.scores(docs, stats)
      .queryExecution.executedPlan
    val exchanges = p.collect { case e: Exchange => e }
    assert(exchanges.isEmpty,
      s"the stateless scorer grew a shuffle:\n$p")
  }

  test("chain sync: balance snapshots run through one shuffle; the staged created collect broadcasts nothing") {
    // the executed (final adaptive) plans of the default graph's second
    // JDBC-store batch, the one with committed state and a prior segment:
    // each extra exchange or broadcast is one more query stage per commit
    import graft.core._
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val blocks = graft.sources.ChainGen.generate(20, seed = 42L)
    val runner = new GraphRunner(spark,
      new JdbcStore(tmpDir("plan-chain"), spark),
      graft.operators.ReducerGraphs.default(graft.sources.ChainGen.Watched))
    runner.flush(blocks.take(10))
    val plans = executionsOf(runner.flush(blocks.drop(10)))
    def named(cols: String*) = plans.filter(qe =>
      qe.analyzed.output.map(_.name) == cols &&
        !qe.analyzed.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val Seq(balance) = named("reducer", "addressName", "address", "slot", "balance")
    val Seq(created) = named("txHash", "txIndex", "slot", "address",
      "addressName", "amount")
    val audit = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val bp = balance.executedPlan
    val shuffles = audit.collectWithSubqueries(bp) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"balance plan has ${shuffles.size} shuffles:\n$bp")
    assert(audit.collectWithSubqueries(bp) {
      case j: BroadcastNestedLoopJoinExec => j }.isEmpty, bp.toString)
    val cp = created.executedPlan
    assert(audit.collectWithSubqueries(cp) {
      case e: BroadcastExchangeExec => e }.isEmpty, cp.toString)
  }
}
