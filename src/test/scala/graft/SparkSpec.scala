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
