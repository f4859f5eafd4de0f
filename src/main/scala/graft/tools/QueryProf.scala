package graft.tools

import graft.{Harness, Ledger, SparkEntry}

/** One-query profile: runs catalog entries warm (1 unmeasured + N
  * measured reps, the Bench discipline) and prints each rep's
  * [[graft.Ledger]] legs — wall, jobs/stages/tasks, executor run/CPU/GC,
  * shuffle and spill bytes, Catalyst phases, idle time inside SQL
  * executions and driver time between them — to stderr.
  *
  * Run: SPARK_GRAFT_ONLY=q73 SPARK_GRAFT_SF_DIR=... \
  *        sbt 'runMain graft.tools.QueryProf'
  */
object QueryProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_CONF="k=v,k=v": arbitrary runtime conf for experiments
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    val names = Harness.onlyFilter(SparkEntry.queries.keys.toSeq.sorted)
    names.foreach { name =>
      (0 to reps).foreach { rep =>
        Ledger.take(spark)
        val t0 = System.nanoTime()
        Ledger.leg(name)(SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save())
        System.err.println(
          f"[prof] $name rep$rep total ${(System.nanoTime() - t0) / 1e9}%.3fs")
        Harness.settle(spark)
        Ledger.take(spark).filter(l => Ledger.within(l.leg, name))
          .foreach(l => System.err.println(f"[prof]   ${l.leg}%-44s " +
            f"n=${l.entries}%-3d wall=${l.wallMs}%6dms jobs=${l.jobs}%-3d " +
            f"stages=${l.stages}%-3d tasks=${l.tasks}%-4d " +
            f"busy=${l.stageBusyMs}%5dms run=${l.runMs}%6dms " +
            f"cpu=${l.cpuMs}%6dms gc=${l.gcMs}%4dms " +
            f"shuffle=${l.shuffleReadBytes}/${l.shuffleWriteBytes}B " +
            f"spill=${l.spillBytes}B peak=${l.peakExecMemBytes}B " +
            f"task max/med=${l.taskMaxMs}/${l.taskMedianMs}ms " +
            f"failed=${l.failedTasks} catalyst=${l.catalystMs}%4dms " +
            f"idle=${l.idleMs}%5dms driver=${l.driverMs}%5dms"))
      }
    }
    spark.stop()
  }
}
