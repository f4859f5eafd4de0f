package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (small data → few partitions). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `df` and returns how many partition directories its file
    * scans read — the scan's own "number of partitions read" metric, so
    * a pruning assertion fails on a scan that opens a retracted
    * partition, not only on a plan that lacks a partition filter. */
  def partitionsRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    SparkSpec.scans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numPartitions").value
    }.sum
  }

  /** Query executions of every SQL action `body` runs, after it ran. */
  def executionsOf(body: => Unit)
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.add(qe)
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq
  }
}

object SparkSpec {
  private object scans
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
