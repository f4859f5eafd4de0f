package graft

import graft.core._
import graft.queries.{Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  ShuffleExchangeExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Nothing rewrites the session's shuffle width at run time: the chain
  * engine and the q59/q73 training loops plan at the width the session
  * was built with, and leave it as they found it. The width under test
  * (6) is one no code path picks for itself.
  */
class ShuffleWidthSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val key = "spark.sql.shuffle.partitions"
  private val width = 6

  private def atWidth(body: => Unit): Unit = {
    val saved = spark.conf.get(key)
    spark.conf.set(key, width)
    try body
    finally spark.conf.set(key, saved)
  }

  /** Partition counts of the hash shuffles the planner inserted (a
    * join's or an aggregation's exchange; not a `repartition(n)` and
    * not a single-partition global aggregate) in every plan `body`
    * executed.
    */
  private def plannedWidths(body: => Unit): Seq[Int] = {
    val audit = new AdaptiveSparkPlanHelper {}
    executionsOf(body).flatMap(qe =>
      audit.collectWithSubqueries(qe.executedPlan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS =>
          e.outputPartitioning
      }.collect { case h: HashPartitioning => h.numPartitions })
  }

  test("a GraphRunner flush plans its reducers at the session width") {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val probe = new ChainReducer {
      val name = "width_probe"
      val tables = Seq(TableDef("t_width_probe", StructType(Seq(
        StructField("slot", LongType)))))
      def rollForward(blocks: DataFrame, ctx: BatchContext)
          : Map[String, DataFrame] = {
        seen.add(ctx.spark.conf.get(key))
        Map("t_width_probe" -> blocks.select(col("slot")))
      }
    }
    atWidth {
      val runner = new GraphRunner(spark,
        new StateStore(tmpDir("width"), spark), Seq(probe))
      runner.flush(graft.sources.ChainGen.generate(6, seed = 5L))
      assert(scala.jdk.CollectionConverters.SetHasAsScala(seen).asScala ==
        Set(width.toString),
        "a reducer saw a width the session was not built with")
      assert(spark.conf.get(key) == width.toString, "the flush left the width changed")
    }
  }

  test("the q59 and q73 training loops plan their shuffles at the session width") {
    atWidth {
      val q59 = plannedWidths(Similarity.kmeans(spark, sf, iters = 1))
      val docs = Tables.documents(spark, sf)
      val q73 = plannedWidths(TextAnalysis.clsTrain(
        TextAnalysis.clsFeatures(docs), TextAnalysis.clsLabels(docs)))
      assert(q59.nonEmpty && q73.nonEmpty, "no planner shuffle was captured")
      assert(q59.forall(_ == width) && q73.forall(_ == width),
        s"shuffle widths, q59: $q59; q73: $q73")
      assert(spark.conf.get(key) == width.toString, "a loop left the width changed")
    }
  }
}
