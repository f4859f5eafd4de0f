package graft

import graft.streaming.StreamingCurate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** State-store provider portability: the streaming twins' keyed state
  * must behave identically on the RocksDB provider — the 100 TB
  * configuration, where per-executor state lives off-heap/on-disk in
  * RocksDB instead of the default in-memory HashMap provider, so state
  * size is bounded by local SSD rather than executor heap. One config
  * line flips it; this spec proves the flip is BEHAVIOR-NEUTRAL
  * (verdict-for-verdict equal to the default provider against batch
  * q79) and actually engaged (RocksDB custom metrics present in the
  * progress events).
  */
class RocksDbStateSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"
  private val Provider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("StreamingCurate on RocksDB state equals batch q79 and reports rocksdb metrics") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = sp.conf.getOption(key)
    sp.conf.set(key, Provider)
    try {
      val docs = Tables.documents(sp, sf)
      val ev = StreamingCurate.frozenEvalIndex(
        docs.filter(col("doc_id") % 10 === 3)
          .select(col("doc_id"), col("text")))
      val all = docs.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val mem = MemoryStream[(Long, String)]
      val q = StreamingCurate.audit(mem.toDF().toDF("doc_id", "text"), ev)
        .writeStream.format("memory").queryName("rocks_curate")
        .outputMode("append").start()
      try {
        all.grouped((all.length + 3) / 4).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq)
          q.processAllAvailable()
        }
        val streamed = sp.table("rocks_curate")
          .select("doc_id", "reasons").as[(Long, Int)].collect().toMap
        val batch = SparkEntry.queries("q79_curation_audit")(sp, sf)
          .select(col("doc_id"), col("reasons")).as[(Long, Int)].collect()
          .map { case (id, r) => id -> (r & 15) }.toMap
        assert(streamed.size == all.length)
        assert(streamed == batch,
          s"rocksdb-state verdicts diverged on ${
            streamed.count { case (k, v) => batch(k) != v }} docs")
        // the provider really engaged: rocksdb custom metrics surface
        // on the stateful operator's progress
        val metrics = Option(q.lastProgress)
          .flatMap(_.stateOperators.headOption)
          .map(_.customMetrics.keySet())
          .getOrElse(java.util.Collections.emptySet[String]())
        assert(metrics.stream().anyMatch(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb metrics in $metrics")
      } finally q.stop()
    } finally {
      saved.fold(sp.conf.unset(key))(v => sp.conf.set(key, v))
    }
  }

  test("gated StreamingPromote on RocksDB state: converges with batch q100, " +
    "metrics prove the provider engaged, cross-batch redelivery demotes totally") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val lifeSf = "/root/testdata/sf0.001"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = sp.conf.getOption(key)
    sp.conf.set(key, Provider)
    try {
      // the q100 split, as in StreamingPromoteSpec
      val docs = Tables.documents(sp, lifeSf).select(col("doc_id"), col("text"))
      val m = col("doc_id") % 10
      val (frozen, delta, probe) =
        (docs.filter(m < 3), docs.filter(m >= 3 && m < 6), docs.filter(m >= 6))
      val exactDir = tmpDir("rocks-promote-exact")
      val bandsDir = tmpDir("rocks-promote-bands")
      graft.streaming.StreamingPromote.promoteBatch(
        graft.queries.Dedup.lexPartials(frozen, lit(-1L)),
        graft.streaming.StreamingPromote.lexDirs(exactDir, bandsDir), -1L)
      val deltaRows = delta.as[(Long, String)].collect().sortBy(_._1)
      val chunks = deltaRows.grouped((deltaRows.length + 2) / 3).toSeq
      assert(chunks.length == 3 && chunks(0).length >= 4)
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingPromote.promoteLexGated(
        mem.toDF().toDF("doc_id", "text"), exactDir, bandsDir)
      try {
        // micro-batch 1 REDELIVERS half of micro-batch 0's documents —
        // the at-least-once case a fresh batch id gives the partition
        // overwrite no chance to absorb; the doc-id state gate must
        mem.addData(chunks(0).toIndexedSeq)
        q.processAllAvailable()
        mem.addData((chunks(1) ++ chunks(0).take(chunks(0).length / 2))
          .toIndexedSeq)
        q.processAllAvailable()
        mem.addData(chunks(2).toIndexedSeq)
        q.processAllAvailable()
        def lexRows(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
          .toSeq
        val streamed = lexRows(graft.streaming.StreamingPromote
          .probeLexLive(sp, exactDir, bandsDir, probe))
        val batch = lexRows(
          SparkEntry.queries("q100_lex_index_merge")(sp, lifeSf))
        assert(batch.nonEmpty, "q100 returned no probe rows — spec is vacuous")
        assert(streamed == batch,
          "gated promote on rocksdb state diverged from the batch merge")
        // the dedup gate's keyed state really lives in RocksDB
        val metrics = Option(q.lastProgress)
          .flatMap(_.stateOperators.headOption)
          .map(_.customMetrics.keySet())
          .getOrElse(java.util.Collections.emptySet[String]())
        assert(metrics.stream().anyMatch(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb metrics in $metrics")
        // TOTAL retraction: demote micro-batch 0 — the redelivered docs
        // must vanish WITH it (the gate kept them out of batch 1), so
        // the live state equals an index that never saw chunk 0
        graft.streaming.StreamingPromote.demoteLexBatch(exactDir, bandsDir, 0L)
        val surviving = frozen
          .union(chunks(1).toSeq.toDF("doc_id", "text"))
          .union(chunks(2).toSeq.toDF("doc_id", "text"))
        assert(lexRows(graft.streaming.StreamingPromote
            .probeLexLive(sp, exactDir, bandsDir, probe)) ==
          lexRows(graft.queries.Dedup.probeLex(
            graft.queries.Dedup.buildLexIndex(surviving), probe)),
          "demote left redelivered copies behind — retraction was partial")
      } finally q.stop()
    } finally {
      saved.fold(sp.conf.unset(key))(v => sp.conf.set(key, v))
    }
  }
}
