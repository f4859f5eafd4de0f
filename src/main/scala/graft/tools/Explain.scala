package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** Dev-only plan audit: dump `explain("formatted")` for every catalog
  * query so pushdown (PushedFilters/ReadSchema), join strategy
  * (BroadcastHashJoin vs SortMergeJoin) and WholeStageCodegen spans can
  * be reviewed without executing anything.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/plans"
    // dumped plans reflect the SAME session conf the bench and verify
    // sessions plan under (the shuffled-hash join baseline)
    val spark = graft.Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
      } catch {
        case e: Throwable =>
          Files.writeString(Paths.get(outDir, s"$name.ERROR.txt"), e.toString)
      }
    }
    spark.stop()
  }
}
