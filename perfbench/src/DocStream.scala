package graft.perfbench

import graft.SparkEntry
import graft.queries.Dedup
import graft.streaming.{StreamingCurate, StreamingPack, StreamingPromote}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.collection.mutable

/** doc-stream: the streaming twins on one session, each reading its own
  * [[MemoryStream]]: [[StreamingCurate.audit]], [[StreamingPack.assignments]]
  * and [[StreamingPromote.promoteLexGated]].
  *
  * Closed loop: a delta is added to the three streams and the next one
  * waits until all three queries have committed it. After every
  * `DemoteEvery`-th delta a seeded earlier delta is demoted from the
  * lexical index
  * ([[StreamingPromote.demoteLexBatch]]) and the live index is probed
  * ([[StreamingPromote.probeLexLive]]).
  *
  * Deltas arrive in doc_id order, so the batch twins over the delivered
  * documents are the oracle: the catalog's DuckDB oracles of q79 and q62
  * (checked after the JVM exits) and the q100 index build and probe.
  *
  * A traced run then runs the document pipeline's batch legs
  * ([[DocBatch]]) for the `queries` layer, after the window and with the
  * streams stopped.
  */
object DocStream {
  val DeltaDocs = 100
  /** A cycle is `DemoteEvery` deltas, then one demote and one probe. */
  val DemoteEvery = 3
  /** From a cold JVM the first cycle takes about twice a later one and
    * the next ones fall slowly; the slow tail would take longer than the
    * run's time budget allows.
    */
  val WarmDeltas = 2 * DemoteEvery
  /** Seconds of `--seconds` per five cycles; the window is a multiple of
    * five cycles, so each fifth of it holds the same ops.
    */
  val SecondsPerFiveCycles = 30.0
  val ProbeDocs = 300

  def deltas(seed: Long, count: Int, size: Int): IndexedSeq[IndexedSeq[Doc]] =
    DocCorpus.docs(seed, count * size, firstId = 0L).grouped(size).toIndexedSeq

  /** Probe documents: copies and near copies of seeded corpus documents,
    * and fresh ones, with ids outside the corpus.
    */
  private def probes(seed: Long, corpus: IndexedSeq[Doc]): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed ^ 0x9b0beL)
    val fresh = DocCorpus.docs(seed + 31L, ProbeDocs, firstId = 0L)
    (0 until ProbeDocs).map { i =>
      val text = i % 3 match {
        case 0 => corpus(rnd.nextInt(corpus.size)).text
        case 1 => corpus(rnd.nextInt(corpus.size)).text + " dup"
        case _ => fresh(i).text
      }
      Doc(100000000L + i, text, "en", s"src${i % 20}")
    }
  }

  def run(ctx: Ctx, ledger: Option[StreamLedger]): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val size = if (ctx.args.smoke) 50 else DeltaDocs
    val cycles = 5 * math.max(1, math.round(ctx.args.seconds / SecondsPerFiveCycles).toInt)
    val (warm, n) = ctx.sized((2, 6), (WarmDeltas, cycles * DemoteEvery))
    val root = ctx.dir + "/doc-stream"
    val exactDir = s"$root/lex-exact"
    val bandsDir = s"$root/lex-bands"
    val rnd = new scala.util.Random(ctx.args.seed ^ 0xde1aL)
    val (all, probe, schedule) = ctx.benchOnly {
      val all = deltas(ctx.args.seed, warm + n, size)
      val probe = probes(ctx.args.seed, all.flatten)
      // (delta index → earlier delta demoted after it)
      val schedule = mutable.LinkedHashMap[Int, Int]()
      (0 until warm + n).filter(i => i % DemoteEvery == DemoteEvery - 1)
        .foreach { i =>
          val cands = (1 to 3).map(i - _).filter(j => j >= 0 && !schedule.values.exists(_ == j))
          schedule(i) = cands(rnd.nextInt(cands.size))
        }
      (all, probe, schedule.toMap)
    }
    val probeDf = probe.map(d => (d.id, d.text)).toDF("doc_id", "text")
    val evalDocs = all.flatten.filter(_.id % 10 == 3).map(d => (d.id, d.text))
    val ev = StreamingCurate.frozenEvalIndex(evalDocs.toDF("doc_id", "text"))

    val memC = MemoryStream[(Long, String)]
    val memP = MemoryStream[(Long, String)]
    val memL = MemoryStream[(Long, String)]
    val qC = StreamingCurate.audit(memC.toDF().toDF("doc_id", "text"), ev)
      .writeStream.format("memory").queryName("perfbench_curate")
      .outputMode("append").start()
    val qP = StreamingPack.assignments(
        StreamingPack.tokEntries(memP.toDF().toDF("doc_id", "text")))
      .writeStream.format("memory").queryName("perfbench_pack")
      .outputMode("append").start()
    val qL = StreamingPromote.promoteLexGated(
      memL.toDF().toDF("doc_id", "text"), exactDir, bandsDir)
    val queries = Seq("curate" -> qC, "pack" -> qP, "promote" -> qL)
    ledger.foreach(l => queries.foreach { case (name, q) => l.names.put(q.id, name) })

    var addNs = 0L
    var demoteNs = 0L
    var probeNs = 0L
    var ops = 0L
    var failed = 0L
    val demoted = mutable.Set[Int]()
    val latencyMs = mutable.ArrayBuffer[Double]()
    val curve = mutable.ArrayBuffer[(Double, Double)]()
    var lastProbe: Seq[(Long, Long, Long, Boolean)] = Nil

    def deliver(i: Int): Double = {
      val rows = all(i).map(d => (d.id, d.text))
      val t0 = System.nanoTime()
      tracer.span("sources.add_data") {
        memC.addData(rows); memP.addData(rows); memL.addData(rows)
      }
      addNs += System.nanoTime() - t0
      queries.foreach { case (name, q) =>
        tracer.span(s"streaming.$name.commit")(q.processAllAvailable())
      }
      (System.nanoTime() - t0) / 1e6
    }
    def lexRows(df: DataFrame): Seq[(Long, Long, Long, Boolean)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq.sorted

    /** One delta, then the demote and probe scheduled after it. */
    def step(i: Int): Unit = {
      latencyMs += deliver(i)
      ops += 1
      schedule.get(i).foreach { j =>
        val t0 = System.nanoTime()
        tracer.span("streaming.demote") {
          if (!new java.io.File(s"$exactDir/batch_id=$j").isDirectory) failed += 1
          StreamingPromote.demoteLexBatch(exactDir, bandsDir, j.toLong)
        }
        demoted += j
        val t1 = System.nanoTime()
        lastProbe = tracer.span("streaming.probe")(
          lexRows(StreamingPromote.probeLexLive(spark, exactDir, bandsDir, probeDf)))
        demoteNs += t1 - t0
        probeNs += System.nanoTime() - t1
        ops += 2
      }
    }

    val streamed = try {
      (0 until warm).foreach(step)
      addNs = 0L; demoteNs = 0L; probeNs = 0L; ops = 0L
      latencyMs.clear()
      val win = ctx.window {
        val w0 = System.nanoTime()
        (warm until warm + n).foreach { i =>
          tracer.nextOp()
          step(i)
          curve += (((System.nanoTime() - w0) / 1e9, (i - warm + 1).toDouble * size))
        }
      }

      // output checks, outside the window: the live lexical probe here,
      // curate and pack against the catalog's DuckDB oracles afterwards
      val delivered = all.flatten
      val sf = s"$root/sf"
      delivered.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$sf/documents.parquet")
      // q79 also reads `embeddings` for its semantic bit (16), which the
      // streaming audit does not compute; a few vectors whose ids match
      // no document leave that bit clear
      (0 until 8).map(i => (1000000000L + i,
          Array.tabulate(64)(k => ((i * 64 + k) % 7).toFloat), 0))
        .toDF("vec_id", "embedding", "label").write.parquet(s"$sf/embeddings.parquet")
      spark.table("perfbench_curate").select("doc_id", "reasons")
        .write.parquet(s"$root/streamed/curate")
      spark.table("perfbench_pack").write.parquet(s"$root/streamed/pack")
      val surviving = all.indices.filterNot(demoted).flatMap(all(_))
        .map(d => (d.id, d.text)).toDF("doc_id", "text")
      // a window of whole cycles ends with a probe of the final state
      val live = if (schedule.contains(warm + n - 1)) lastProbe
        else lexRows(StreamingPromote.probeLexLive(spark, exactDir, bandsDir, probeDf))
      val batchLex = lexRows(Dedup.probeLex(Dedup.buildLexIndex(surviving), probeDf))
      val checks = Map("live_probe_matches_batch" -> (live == batchLex))
      if (!checks.values.forall(identity))
        System.err.println(s"perfbench: live probe ${live.size} rows, batch ${batchLex.size}")

      Outcome(
        work = n.toDouble * size,
        win = win,
        latencyMs = latencyMs.toSeq,
        curve = curve.toSeq,
        attempted = ops,
        failed = failed,
        checks = checks,
        layers = Map(
          "sources.wait_s" -> addNs / 1e9,
          "sources.events" -> n.toDouble * size,
          "streaming.demote_s" -> demoteNs / 1e9,
          "streaming.probe_s" -> probeNs / 1e9) ++
          ledger.map(_.metrics(queries.map(_._1), win.startMs, win.endMs))
            .getOrElse(Map.empty),
        record = Map("deltas_warm" -> warm.toDouble, "deltas" -> n.toDouble,
          "delta_docs" -> size.toDouble, "demotes" -> schedule.size.toDouble),
        digests = Map("deltas" -> DocCorpus.digest(all.drop(warm).flatten.map(DocCorpus.json))),
        files = Map("sf" -> sf, "streamed" -> s"$root/streamed",
          "delivered" -> delivered.size.toString,
          "oracle.q79_curation_audit" -> SparkEntry.oracleSql("q79_curation_audit"),
          "oracle.q62_pack_sequences" -> SparkEntry.oracleSql("q62_pack_sequences")))
    } finally queries.foreach(_._2.stop())
    if (!ctx.args.trace) streamed
    else {
      val b = DocBatch.run(ctx)
      streamed.copy(layers = streamed.layers ++ b.layers,
        record = streamed.record ++ b.record, digests = streamed.digests ++ b.digests,
        files = streamed.files ++ b.files)
    }
  }
}
