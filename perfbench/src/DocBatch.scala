package graft.perfbench

import graft.{Harness, SparkEntry}
import graft.sources.DocIngest

/** The document pipeline's batch legs, run by the traced doc-stream run
  * after its window. A pass ingests a JSONL file with [[DocIngest.jsonl]]
  * (documents and quarantine to parquet), then runs the catalog's q122
  * (clean), q67 (dedup + pack manifest) and q98 (suffix dedup + pack)
  * over the ingested `documents` table, each written to parquet.
  *
  * One untimed pass over another seed-derived corpus warms the legs'
  * plans; one timed pass over the seed's corpus gives the `queries` layer
  * and `sources.rejected` (quarantined lines, counted from the quarantine
  * parquet and checked against the seeded count). Every pass's outputs are
  * checked against the catalog's DuckDB oracles after the JVM exits.
  */
object DocBatch {
  val Legs = Seq("q122_clean_pipeline", "q67_pipeline_manifest", "q98_pipeline_suffix")
  val Docs = 1000

  def corpus(seed: Long, n: Int): (IndexedSeq[String], Int) =
    DocCorpus.jsonl(DocCorpus.docs(seed, n, firstId = 0L))

  final case class Result(layers: Map[String, Double], record: Map[String, Double],
      digests: Map[String, String], files: Map[String, String])

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val docs = if (ctx.args.smoke) 300 else Docs
    val root = ctx.dir + "/doc-batch"
    val (lines, bad) = ctx.benchOnly {
      val (lines, bad) = corpus(ctx.args.seed, docs)
      DocCorpus.write(s"$root/warm/in.jsonl", corpus(ctx.args.seed + 1000003L, docs)._1)
      DocCorpus.write(s"$root/pass0/in.jsonl", lines)
      (lines, bad)
    }

    val legNs = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var ingestNs = 0L
    def pass(dir: String): Unit = {
      val t0 = System.nanoTime()
      tracer.span("sources.ingest") {
        val ing = DocIngest.jsonl(spark, s"$dir/in.jsonl")
        ing.docs.write.parquet(s"$dir/sf/documents.parquet")
        ing.quarantine.write.parquet(s"$dir/quarantine.parquet")
      }
      ingestNs += System.nanoTime() - t0
      Legs.foreach { leg =>
        val l0 = System.nanoTime()
        tracer.span(s"queries.$leg") {
          SparkEntry.queries(leg)(spark, s"$dir/sf").write.parquet(s"$dir/$leg")
        }
        legNs(leg) += System.nanoTime() - l0
      }
    }

    pass(s"$root/warm")
    Harness.settle(spark)
    ingestNs = 0L
    legNs.clear()
    val t0 = System.nanoTime()
    pass(s"$root/pass0")
    val passS = (System.nanoTime() - t0) / 1e9
    val rejected = spark.read.parquet(s"$root/pass0/quarantine.parquet").count()
    Result(
      layers = Map(
        "sources.rejected" -> rejected.toDouble,
        "queries.q122_s" -> legNs("q122_clean_pipeline") / 1e9,
        "queries.q67_s" -> legNs("q67_pipeline_manifest") / 1e9,
        "queries.q98_s" -> legNs("q98_pipeline_suffix") / 1e9),
      record = Map("batch_docs" -> docs.toDouble, "batch_lines" -> lines.size.toDouble,
        "batch_malformed" -> bad.toDouble, "batch_pass_s" -> passS,
        "batch_ingest_s" -> ingestNs / 1e9),
      digests = Map("jsonl" -> DocCorpus.digest(lines)),
      files = Map("batch_root" -> root, "batch_passes" -> "1") ++
        Legs.map(l => s"oracle.batch.$l" -> SparkEntry.oracleSql(l)))
  }
}
