package graft.tools

import graft.core._
import graft.operators._
import graft.sources.ChainGen
import graft.streaming.Telemetry

/** Console progress dashboard — the reference's TUI
  * (`CardanoIndexWorker.Dashboard.cs`) reduced to its data: renders the
  * §2.12 progress table (reducer, progress %%, current/tip slot, mean
  * batch seconds) for a store root, either once or polling.
  *
  * Usage: Dashboard <storeRoot> [watchSeconds]
  */
object Dashboard {

  def render(tel: Telemetry): String = {
    val rows = tel.snapshot
    val header = f"${"reducer"}%-22s ${"progress"}%9s ${"current"}%10s " +
      f"${"tip"}%10s ${"batches"}%8s ${"mean s"}%8s"
    val lines = rows.map { p =>
      val bar = {
        val n = (p.progressPct / 10).toInt
        "[" + "#" * n + "." * (10 - n) + "]"
      }
      f"${p.reducer}%-22s $bar ${p.progressPct}%6.2f%% ${p.currentSlot}%10d " +
        f"${p.tipSlot}%10d ${p.batches}%8d ${p.meanBatchSec}%8.3f"
    }
    (header +: lines).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Dashboard <storeRoot> [watchSeconds]")
    val root = args(0)
    val watchSec = if (args.length > 1) args(1).toInt else 0
    val spark = graft.Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val store = new StateStore(root, spark)
    val reducers: Seq[ChainReducer] = ReducerGraphs.default(ChainGen.Watched)
    val tel = new Telemetry(reducers.map(r => r.name -> r.dependsOn).toMap)
    def refresh(): Unit = {
      val cps = store.checkpoints
      cps.foreach { case (r, w) =>
        // slot-only: record() would count each poll as a zero-second
        // batch and render "N batches, mean 0.000s" for idle stores
        CheckpointWindow.latest(w).foreach(p => tel.observeSlot(r, p.slot))
      }
      println(render(tel))
    }
    refresh()
    val deadline = System.currentTimeMillis() + watchSec * 1000L
    while (System.currentTimeMillis() < deadline) {
      Thread.sleep(2000)
      println("---")
      refresh()
    }
    spark.stop()
  }
}
