package graft

import graft.streaming.StreamingPromote
import graft.streaming.StreamingPromote.LineRefreezeDirs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming chrome RE-FREEZE (the q133/q134 twin): the re-freeze-
  * capable line store — surv + strip postings, census partials, and the
  * published chrome as an epoch relation — driven through the full
  * production sequence: bootstrap promote under the EMPTY chrome →
  * bootstrap freeze (a re-freeze from ∅) → gated delta stream under
  * the published chrome with cross-batch redelivery → maintenance
  * re-freeze after census drift → probe ≡ batch q133 (the rebuilt-
  * under-C_new oracle-gated entry) → demote ≡ rebuilt-without under
  * the SAME published chrome (the chrome does not re-collapse until
  * the next re-freeze — the epoch contract).
  */
class StreamingRefreezeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def containRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toSeq

  private def freshDirs() = LineRefreezeDirs(
    tmpDir("srf-surv"), tmpDir("srf-strip"), tmpDir("srf-cnt"),
    tmpDir("srf-srcn"), tmpDir("srf-chrome") + "/chrome")

  test("streamed re-freeze on RocksDB: bootstrap freeze from empty chrome, gated delta promote with redelivery, census-drift re-freeze ≡ batch q133; demote under the published epoch ≡ rebuilt-without") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = sp.conf.getOption(key)
    sp.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      // batch q133's split, spelled once: promoted pop ≡ 0..4 (mod 7),
      // bootstrap = the footerless crawl (≡ 0 mod 3), delta = the
      // footer carriers, probe = quotes of the pop ∪ the unseen docs
      val docs = Tables.documents(sp, sf).select(
        col("doc_id").cast("long").as("doc_id"), col("source"),
        col("text"))
      val m = col("doc_id") % 7
      val pop = docs.filter(m < 5)
      val boot = pop.filter(col("doc_id") % 3 === 0)
      val delta = pop.filter(col("doc_id") % 3 =!= 0)
      val probeDocs = graft.queries.TextAnalysis.quoteOf(pop)
        .unionByName(docs.filter(m >= 5)
          .select(col("doc_id"), col("source"), col("text")))
      val dirs = freshDirs()
      // bootstrap: promote under the (empty) pre-freeze chrome, then
      // the bootstrap freeze — a re-freeze from ∅ that must quarantine
      // exactly the bootstrap census's chrome
      StreamingPromote.promoteBatch(
        StreamingPromote.refreezePartials(dirs)(boot, -1L), dirs.parts, -1L)
      StreamingPromote.refreezeLineLive(sp, dirs)
      val chromeAfterBoot = StreamingPromote.publishedChrome(sp, dirs)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(chromeAfterBoot.nonEmpty, "bootstrap freeze published no chrome")
      // the delta stream, gated, in 3 ordered chunks with micro-batch 1
      // REDELIVERING half of micro-batch 0 under a fresh batch id
      val deltaRows = delta.as[(Long, String, String)].collect().sortBy(_._1)
      val chunks = deltaRows.grouped(
        math.max(1, (deltaRows.length + 2) / 3)).toSeq
      assert(chunks.length == 3 && chunks(0).length >= 4)
      val mem = MemoryStream[(Long, String, String)]
      val q = StreamingPromote.promote(
        mem.toDF().toDF("doc_id", "source", "text"), "doc_id", dirs.parts)(
        StreamingPromote.refreezePartials(dirs))
      try {
        mem.addData(chunks(0).toIndexedSeq)
        q.processAllAvailable()
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
      // census has drifted (the delta carries the footer): the
      // maintenance re-freeze re-publishes and moves postings
      StreamingPromote.refreezeLineLive(sp, dirs)
      val chromeAfterDrift = StreamingPromote.publishedChrome(sp, dirs)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert((chromeAfterDrift -- chromeAfterBoot).nonEmpty,
        "delta staged no chrome drift — the re-freeze gate is vacuous")
      val streamed = containRows(
        StreamingPromote.probeLineRefreezeLive(sp, dirs, probeDocs))
      val batch = containRows(
        SparkEntry.queries("q133_chrome_refreeze_add")(sp, sf))
      assert(batch.nonEmpty, "q133 returned no probe rows — spec is vacuous")
      assert(streamed == batch,
        "streamed re-freeze diverged from batch q133")
      // demote micro-batch 1 (chunk 1 ∪ the redelivered half was
      // gated down to chunk 1 alone) — rebuilt-without is built under
      // the PUBLISHED chrome, not a re-collapsed census
      graft.queries.Partials.demote(dirs.parts, 1L)
      val surviving = boot
        .union(chunks(0).toSeq.toDF("doc_id", "source", "text"))
        .union(chunks(2).toSeq.toDF("doc_id", "source", "text"))
      val chromeNow = StreamingPromote.publishedChrome(sp, dirs)
      val want = {
        val ta = graft.queries.TextAnalysis
        val li = ta.lineDigests(ta.pageDocs(surviving))
        val idx = ta.collapseLineState(
          ta.lineStatePartials(li, broadcast(chromeNow), 0L))
        val gp = ta.lineGramIds(ta.pageDocs(probeDocs),
          broadcast(chromeNow))
        containRows(graft.queries.Dedup.probeContain(idx, gp,
          gp.groupBy(col("doc_id")).agg(count(lit(1)).as("ng")), "srfw"))
      }
      assert(containRows(
        StreamingPromote.probeLineRefreezeLive(sp, dirs, probeDocs))
        == want,
        "demoted re-freeze store diverged from rebuilt-without")
    } finally {
      saved.fold(sp.conf.unset(key))(v => sp.conf.set(key, v))
    }
  }
}
