package graft.tools

import graft.core._
import graft.operators._
import graft.sources.ChainGen

/** Operator-initiated rewind — the reference's rollback mode (T11,
  * `CardanoIndexWorker.cs:181-202`): a one-shot maintenance entrypoint
  * that rolls the store back to a target slot (bypassing the runtime
  * depth guard — this is an operator decision, like the reference's
  * config-driven mode that ignores checkpoints), prints the resulting
  * checkpoint state, and exits. The next ingest run resumes from the
  * rewound point and replays forward.
  *
  * Usage: Rewind <storeRoot> <slot> [inclusive|exclusive] [jdbc]
  */
object Rewind {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Rewind <storeRoot> <slot> [inclusive|exclusive] [jdbc]")
    val root = args(0)
    val slot = args(1).toLong
    // a DESTRUCTIVE maintenance tool must reject unrecognized words,
    // not default them: 'Rewind <root> <slot> jdbc' previously consumed
    // 'jdbc' as the mode (→ Exclusive) and rewound the WRONG backend
    // while printing success
    val extra = args.drop(2).map(_.toLowerCase)
    extra.foreach(a => require(
      a == "inclusive" || a == "exclusive" || a == "jdbc",
      s"unrecognized argument '$a' — usage: Rewind <storeRoot> <slot> " +
        "[inclusive|exclusive] [jdbc]"))
    val mode: RollbackMode =
      if (extra.contains("inclusive")) Inclusive else Exclusive
    val spark = graft.Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val store: Store =
      if (extra.contains("jdbc")) new JdbcStore(root, spark)
      else new StateStore(root, spark)
    val runner = new GraphRunner(spark, store,
      ReducerGraphs.default(ChainGen.Watched))
    val lock = new SingleInstanceLock(store.root)
    require(lock.waitAcquire(15000L), s"another instance holds ${store.root}")
    try {
      println(s"[rewind] before: max=${runner.maxCheckpointSlot}")
      runner.forceRollback(Point("rewind", slot), mode)
      println(s"[rewind] after: checkpoints=${store.checkpoints.map {
        case (k, v) => k -> CheckpointWindow.latest(v).map(_.slot)
      }}")
    } finally lock.close()
    spark.stop()
  }
}
