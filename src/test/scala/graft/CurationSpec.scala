package graft

import org.apache.spark.sql.functions._

/** Behavioral gates for the curation-stage operators (q68/q69/q70) —
  * properties the value-hash oracle cannot express (the AnnRecallSpec
  * discipline: an operator must be falsifiable on its SEMANTICS, not
  * just reproduce numbers both engines happen to agree on).
  */
class CurationSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("q68: every source stops within one document of its token budget") {
    val sp = spark
    import sp.implicits._
    val sel = SparkEntry.queries("q68_mixture_sample")(sp, sf)
      .select("source", "n_tok", "start_off")
      .as[(String, Long, Long)].collect().groupBy(_._1)
    val budgets = (0 until 20).map(i => s"src$i" -> ((i % 4) + 1) * 500L).toMap
    val srcTotals = Tables.documents(sp, sf)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    assert(sel.nonEmpty)
    var truncated = 0
    sel.foreach { case (src, rows) =>
      val b = budgets(src)
      // a document is taken iff it STARTS inside the budget: every
      // selected start offset is under budget, and the overshoot is
      // bounded by the last document's own tokens
      assert(rows.forall(_._3 < b), s"$src: start_off >= budget")
      val toks = rows.map(_._2).sum
      val lastTok = rows.maxBy(_._3)._2
      assert(toks - lastTok < b, s"$src: overshoot beyond the last doc")
      // unless the source ran out of documents, the budget is actually
      // SPENT: selection is a prefix of the (salt, h, doc_id) order, so
      // the first rejected document starts exactly at `toks` — which
      // must be at or past the budget, else the mixture was starved
      if (rows.length < srcTotals(src).toInt) {
        truncated += 1
        assert(toks >= b, s"$src: budget underspent ($toks < $b)")
      }
    }
    assert(truncated > 0, "test data never hit a budget — spec is vacuous")
  }

  test("q68: two-level prefix sum equals the straight-line selection on random inputs") {
    // the skew-safe rewrite must be value-identical to the definitional
    // single-order greedy scan for ANY input, not just the corpus the
    // oracle fixes — 10 seeded random worlds with adversarial shapes
    // (empty sources, one-doc salts, zero budgets, giant documents)
    val sp = spark
    import sp.implicits._
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(seed)
      val nSrc = 1 + rnd.nextInt(5)
      val budgets = (0 until nSrc).map(i => s"s$i" -> rnd.nextInt(300).toLong)
      val rows = (0 until (20 + rnd.nextInt(300))).map { i =>
        (i.toLong, s"s${rnd.nextInt(nSrc)}",
          1L + rnd.nextInt(if (rnd.nextBoolean()) 10 else 200),
          rnd.nextLong() & Long.MaxValue)
      }
      val toks = rows.toDF("doc_id", "source", "n_tok", "h")
        .withColumn("salt", org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("h"),
          org.apache.spark.sql.functions.lit(8L)))
      val got = graft.queries.Dedup.mixSelect(sp, toks, budgets)
        .select("doc_id", "start_off").as[(Long, Long)].collect().toMap
      // definitional spelling: one greedy scan per source in
      // (salt, h, doc_id) order
      val expected = rows.groupBy(_._2).flatMap { case (src, docs) =>
        val b = budgets.toMap.apply(src)
        var off = 0L
        docs.sortBy(t => (t._4 % 8, t._4, t._1)).flatMap { t =>
          val r = if (off < b) Some(t._1 -> off) else None
          off += t._3
          r
        }
      }
      assert(got == expected, s"seed $seed: ${got.size} vs ${expected.size}")
    }
  }

  test("q69: near verdicts agree exactly with the band index, both directions") {
    val sp = spark
    import sp.implicits._
    // independent reconstruction: a delta doc has near_of = f iff f is
    // the SMALLEST frozen doc sharing >= 1 MinHash band with it
    val bands = graft.queries.Dedup.bandEntries(
        Tables.documents(sp, sf).select(col("doc_id"), col("text")))
      .as[(Long, String)].collect()
    val frozen = bands.filter(_._1 % 10 < 3).groupBy(_._2)
      .map { case (k, vs) => k -> vs.map(_._1).min }
    val expected = bands.filter(_._1 % 10 >= 3)
      .flatMap { case (id, bk) => frozen.get(bk).map(id -> _) }
      .groupBy(_._1).map { case (id, hits) => id -> hits.map(_._2).min }
    val got = SparkEntry.queries("q69_incremental_dedup")(sp, sf)
      .select("doc_id", "near_of").as[(Long, Long)].collect()
      .filter(_._2 >= 0).toMap
    assert(got == expected,
      s"near_of mismatch: got ${got.size}, expected ${expected.size}")
    assert(expected.nonEmpty, "no near-dups in test data — spec is vacuous")
  }

  test("q70: no two kept vectors in one cluster are tau-close (the SemDeDup invariant)") {
    val sp = spark
    import sp.implicits._
    val verdict = SparkEntry.queries("q70_semantic_dedup")(sp, sf)
      .select("vec_id", "cid", "kept").as[(Long, Long, Boolean)].collect()
    assert(verdict.exists(!_._3), "nothing dropped — spec is vacuous")
    val vecs = Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      // the engine rounds to 4 decimals before thresholding — match it
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    verdict.filter(_._3).groupBy(_._2).foreach { case (cid, kept) =>
      val ids = kept.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) {
        val c = cos(vecs(ids(i)), vecs(ids(j)))
        assert(c < 0.35,
          s"kept pair (${ids(i)}, ${ids(j)}) in cluster $cid at cosine $c")
      }
    }
  }

  test("q80: bloom-pruned decontamination equals q54 exactly; the prune actually prunes") {
    val sp = spark
    import sp.implicits._
    val exact = SparkEntry.queries("q54_decontaminate")(sp, sf)
      .as[(Long, Long, Int, Double)].collect().toSeq
    val bloom = SparkEntry.queries("q80_bloom_decontaminate")(sp, sf)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(bloom == exact,
      s"two-phase plan diverged: ${bloom.size} vs ${exact.size} rows")
    assert(exact.nonEmpty, "no contaminated docs in test data - spec is vacuous")
    // the prune's reason to exist: the confirm join's probe side must be
    // a small fraction of the corpus gram stream (false-positive rate +
    // true hits; 3% fpp configured)
    val docs = Tables.documents(sp, sf)
    val ev = graft.queries.Dedup.ngramEntries(
        docs.filter(col("doc_id") % 10 === 3), graft.queries.Dedup.DecontN)
      .select(col("s")).distinct()
    val bf = sp.sparkContext.broadcast(
      ev.stat.bloomFilter("s", math.max(ev.count(), 1L), 0.03))
    val trx = graft.queries.Dedup.ngramEntries(
      docs.filter(col("doc_id") % 10 =!= 3), graft.queries.Dedup.DecontN)
    val total = trx.count()
    val survivors = trx.as[(Long, Int, String)]
      .filter(r => bf.value.mightContainString(r._3)).count()
    assert(survivors < total / 2,
      s"bloom prune kept $survivors of $total corpus grams - not pruning")
  }

  test("q107: duplicate clusters never straddle splits; assignment is hash-stable") {
    val sp = spark
    import sp.implicits._
    val rows = SparkEntry.queries("q107_leak_safe_split")(sp, sf)
      .as[(Long, Long, String)].collect()
    // the operator's reason to exist: every member of a near-dup
    // cluster shares ONE split — no train/test leakage through a twin
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, rs) =>
      assert(rs.map(_._3).distinct.length == 1, s"cluster $c straddles splits")
    }
    assert(byCluster.values.exists(_.length > 1),
      "no multi-document cluster in test data — leakage check is vacuous")
    // all three splits materialize with train dominating (~80/10/10)
    val frac = rows.groupBy(_._3).map { case (s, rs) =>
      s -> rs.length.toDouble / rows.length
    }
    assert(frac.keySet == Set("train", "val", "test"), frac.toString)
    assert(frac("train") > 0.6 && frac("train") < 0.95, frac.toString)
    // hash-stability: the split is a pure function of the cluster id,
    // recomputed here independently of any Spark expression
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (_, c, s) =>
      val hx = md.digest(c.toString.getBytes("UTF-8"))
        .take(1).map(b => f"$b%02x").mkString
      val want = if (hx < "cc") "train" else if (hx < "e6") "val" else "test"
      assert(s == want, s"cluster $c: split $s != recomputed $want")
    }
  }

  test("q113: the keeper is each cluster's longest member, and the policy actually diverges from min-id") {
    val sp = spark
    import sp.implicits._
    val keepers = SparkEntry.queries("q113_quality_keeper")(sp, sf)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (c, k, ch, n) => c -> ((k, ch, n)) }.toMap
    assert(keepers.nonEmpty, "no duplicate clusters in test data — vacuous")
    // independent membership: q39's cluster map + the documents table
    val members = SparkEntry.queries("q39_dup_clusters")(sp, sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val chars = Tables.documents(sp, sf).select("doc_id", "n_chars")
      .as[(Long, Long)].collect().toMap
    assert(members.keySet == keepers.keySet)
    keepers.foreach { case (c, (k, ch, n)) =>
      val ms = members(c)
      assert(ms.contains(k), s"keeper $k not a member of cluster $c")
      assert(n == ms.size, s"cluster $c size $n != ${ms.size}")
      val best = ms.map(chars).max
      assert(ch == best && chars(k) == best,
        s"cluster $c keeper $k has ${chars(k)} chars, best is $best")
      // the full argmax tie-break: no member with the same length and a
      // smaller id may exist
      assert(!ms.exists(m => chars(m) == best && m < k),
        s"cluster $c: smaller-id member ties keeper $k")
    }
    // POLICY non-vacuity: somewhere the longest member is NOT the
    // min-id member, else this operator is q55 under a new name
    assert(keepers.exists { case (c, (k, _, _)) => k != c },
      "keep-longest never diverged from min-id — fixture makes the policy untestable")
  }

  test("q111: a cluster MERGE across releases flips the twins' split and the report catches exactly them") {
    val sp = spark
    import sp.implicits._
    // Constructed worlds: cluster B = {1, 2} (identical textB; canonical
    // 1, md5("1")='c4…' → train) and cluster A = {10, 11} (identical
    // textA; canonical 10, md5("10")='d3…' → val). The CURRENT release
    // adds one bridge document near-dup to both — the clusters merge,
    // the surviving canonical is 1, and the former val twins land in
    // train: the exact leak q111 exists to gate.
    // word stems salted `18x`: the one deterministic constant in the
    // fixed md5/seed pipeline for which the CONCATENATED bridge text
    // (B's words then A's) min-dominates one band from each side —
    // found by exhaustive offline search over salts; the band-sharing
    // assertion below keeps the choice honest if the pipeline changes
    val wsA = (0 until 40).map(i => s"apple18x$i")
    val wsB = (0 until 40).map(i => s"berry18x$i")
    val base = Seq((1L, wsB.mkString(" ")), (2L, wsB.mkString(" ")),
      (10L, wsA.mkString(" ")), (11L, wsA.mkString(" ")))
    val bridge = (1000L, (wsB ++ wsA).mkString(" "))
    val bands = graft.queries.Dedup.bandEntries(
        (base :+ bridge).toDF("doc_id", "text"))
      .as[(Long, String)].collect()
    val byDoc = bands.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc(1000L).exists(byDoc(1L)) && byDoc(1000L).exists(byDoc(10L)),
      "bridge no longer shares a band with each cluster — re-search the salt")
    val prev = graft.queries.Dedup.splitAssign(
      base.toDF("doc_id", "text"), "t111p")
    val cur = graft.queries.Dedup.splitAssign(
      (base :+ bridge).toDF("doc_id", "text"), "t111c")
    val prevM = prev.as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(prevM(1L) == ((1L, "train")) && prevM(2L) == ((1L, "train")), prevM)
    assert(prevM(10L) == ((10L, "val")) && prevM(11L) == ((10L, "val")), prevM)
    val curM = cur.as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(curM(10L)._1 == 1L && curM(11L)._1 == 1L,
      s"bridge must merge the clusters: $curM")
    val report = graft.queries.Dedup.flipReport(prev, cur)
      .as[(Long, Long, Long, String, String, Long)].collect()
    assert(report.map(_._1).toSet == Set(10L, 11L),
      s"report must flag exactly the merged twins: ${report.mkString(";")}")
    report.foreach { r =>
      assert(r._4 == "val" && r._5 == "train" && r._6 == 1L,
        s"val→train is the leak direction: $r")
      assert(r._2 == 10L && r._3 == 1L, s"canonicals must be reported: $r")
    }
    // docs 1/2 keep their canonical and split — stability is the
    // default, the report is flips-only
    assert(curM(1L) == ((1L, "train")) && curM(2L) == ((1L, "train")), curM)
  }

  test("q124: the manifest-read gate equals the recompute gate, stores only the narrow triple, and prunes by split") {
    val sp = spark
    import sp.implicits._
    // the q111 merge world again — but release N−1's assignment goes
    // through the STORE (split-partitioned parquet, durable scratch
    // mode) and is read back, the production form: prev text CANNOT
    // reach the flip report because it was never written
    val wsA = (0 until 40).map(i => s"apple18x$i")
    val wsB = (0 until 40).map(i => s"berry18x$i")
    val base = Seq((1L, wsB.mkString(" ")), (2L, wsB.mkString(" ")),
      (10L, wsA.mkString(" ")), (11L, wsA.mkString(" ")))
    val bridge = (1000L, (wsB ++ wsA).mkString(" "))
    val prev = graft.queries.Dedup.splitAssign(
      base.toDF("doc_id", "text"), "t124p")
    val key = "graft.scratch.dir"
    sp.conf.set(key, tmpDir("q124-manifest"))
    val stored =
      try graft.queries.Scratch.materializePartitioned(
        prev, "t124_prev_assign", "split")
      finally sp.conf.unset(key)
    // the manifest IS the narrow triple — in written column order
    assert(stored.columns.toSeq == Seq("doc_id", "cluster_id", "split"),
      stored.columns.mkString(","))
    // a release's per-split read ("give me N−1's test docs") is
    // partition PRUNING over the store, never a corpus scan
    val splits = stored.select("split").distinct().collect().map(_.getString(0))
    assert(splits.length > 1 && partitionsRead(stored) == splits.length)
    assert(partitionsRead(stored.where(col("split") === splits.head)) == 1,
      "the per-split read opened other splits' partitions")
    val cur = graft.queries.Dedup.splitAssign(
      (base :+ bridge).toDF("doc_id", "text"), "t124c")
    val viaStore = graft.queries.Dedup.flipReport(stored, cur)
      .as[(Long, Long, Long, String, String, Long)].collect().toSet
    val recompute = graft.queries.Dedup.flipReport(prev, cur)
      .as[(Long, Long, Long, String, String, Long)].collect().toSet
    assert(viaStore == recompute && viaStore.map(_._1) == Set(10L, 11L),
      s"store round-trip changed the report: $viaStore vs $recompute")
  }
}
