package graft.queries

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame

/** Cluster-shape helpers for the query catalog: parallelism is derived
  * from the session (never a literal core count), and multi-leg subtrees
  * are materialized as store-backed temp tables rather than executor
  * caches.
  */
object Scratch {

  /** Partition count for a repartition barrier: the session's default
    * parallelism (32 on the local[32] harness, executors × cores on a
    * cluster). Overridable via `graft.par` for experiments.
    */
  def par(df: DataFrame): Int = {
    val s = df.sparkSession
    s.conf.getOption("graft.par").map(_.toInt)
      .getOrElse(s.sparkContext.defaultParallelism)
  }

  /** Scratch root for materialized subtrees. Defaults under java.io.tmpdir;
    * a deployment points `graft.scratch.dir` at durable shared storage
    * (HDFS/S3) — the cluster-scale requirement an executor-local
    * `.cache()` cannot meet.
    *
    * The root is PROCESS-keyed: two JVMs sharing one
    * durable scratch dir at different scale factors (driver verify at
    * sf0.01 while a builder bench runs sf0.1 — orderings outside this
    * repo's control) would otherwise overwrite each other's
    * materialized parquet under the same fixed names (q45_v, pr_edges,
    * ...) between a lazy result's write and its read — the q97 fixture
    * race, for every materialize site at once. Each process works under
    * its own subtree; the shutdown hook removes only that subtree.
    */
  private[graft] def scratchRoot(spark: org.apache.spark.sql.SparkSession): String = {
    val base = spark.conf.getOption("graft.scratch.dir")
      .getOrElse(Paths.get(System.getProperty("java.io.tmpdir"),
        "graft-scratch").toString)
    Paths.get(base, s"pid-${ProcessHandle.current().pid()}").toString
  }
  private def scratchRoot(df: DataFrame): String =
    scratchRoot(df.sparkSession)

  /** Best-effort recursive delete — ONE spelling of the walk/reverse/
    * delete idiom, shared by the scratch shutdown hook and callers
    * cleaning their own scratch trees (q60). Missing root is a no-op;
    * a file vanishing mid-walk is tolerated.
    */
  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      catch { case _: Exception => () }
      finally walk.close()
    }
  }

  @volatile private var hookInstalled = false

  private[graft] def installCleanup(root: String): Unit = synchronized {
    if (!hookInstalled) {
      hookInstalled = true
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(root)))
    }
  }

  /** Materialize a subtree that feeds several join legs, cutting its
    * lineage so Spark never re-executes the expensive upstream per leg
    * (static plans don't dedupe aliased subtrees; AQE exchange reuse is
    * not guaranteed).
    *
    * Mode-aware:
    *  - `graft.scratch.dir` SET (a durable shared filesystem — the
    *    cluster deployment): write parquet once and re-read. Survives
    *    executor churn; each leg gets an independent columnar scan with
    *    its own pushdown. Deterministic per-name path + overwrite keeps
    *    repeated invocations from accumulating files; a shutdown hook
    *    removes the scratch root.
    *  - UNSET (local / single-JVM bench): `localCheckpoint` — the
    *    partitions pin in block-manager storage with no filesystem
    *    round-trip (measured: the parquet write+re-read tripled q31's
    *    local bench time). Executor loss would drop a checkpointed
    *    partition, which is exactly why the durable path exists for
    *    cluster runs.
    *
    * LIFECYCLE: each invocation pins a fresh checkpoint
    * copy for the session — repeated invocations accumulate unless the
    * caller sweeps. Both harnesses do: Bench/Verify run
    * `Harness.settle` (unpersist every persistent RDD + clearCache)
    * after every rep/entry, so nothing outlives one measurement. A
    * long-lived embedding session owns the same contract (settle, or
    * use [[materializeManaged]] and release); iterative kernels whose
    * round-k−1 state dies mid-plan must use [[materializeManaged]].
    */
  /** CONTRACT: materialize is EAGER in every mode — the
    * parquet write executes the plan, and localCheckpoint defaults to
    * eager=true — and evaluates EVERY output column (both modes write
    * the full schema). Callers rely on this for side-effecting output
    * columns (the CC convergence accumulator); a third mode must keep
    * both halves of the contract or connectedComponents' round-1 guard
    * fails loudly. Being an action, every materialize is the
    * [[graft.Ledger]] leg `name`.
    */
  def materialize(df: DataFrame, name: String): DataFrame =
    graft.Ledger.leg(name)(df.sparkSession.conf.getOption("graft.scratch.dir") match {
      case Some(_) =>
        val root = scratchRoot(df)
        installCleanup(root)
        val path = Paths.get(root, name).toString
        df.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path)
      case None => df.localCheckpoint()
    })

  /** [[materialize]] with an explicit RELEASE handle — for iterative
    * kernels (q93's rank rounds, the CC label ping-pong) whose round-k−1
    * state is dead the moment round k is materialized. Plain
    * [[materialize]] pins every round for the session: localCheckpoint
    * blocks are only reclaimed when the driver GC happens to collect the
    * RDD reference, so a 10-round kernel × warmup+reps accumulates every
    * round's raw UnsafeRows in block-manager storage — the measured
    * 64 GiB local-heap envelope of q93 at 100×.
    *
    * Durable mode: release deletes the scratch parquet subtree. Local
    * mode: release unpersists the checkpoint's underlying RDD blocks
    * directly (the LogicalRDD the checkpointed frame wraps), freeing
    * storage deterministically instead of waiting on driver GC.
    *
    * CONTRACT: release only after every plan that could RE-EXECUTE the
    * frame has fully materialized downstream — a localCheckpoint cannot
    * recompute, so a released frame must never be scanned again.
    */
  def materializeManaged(df: DataFrame, name: String)
      : (DataFrame, () => Unit) =
    graft.Ledger.leg(name)(df.sparkSession.conf.getOption("graft.scratch.dir") match {
      case Some(_) =>
        val root = scratchRoot(df)
        installCleanup(root)
        val path = Paths.get(root, name).toString
        df.write.mode("overwrite").parquet(path)
        (df.sparkSession.read.parquet(path), () => deleteTree(path))
      case None =>
        val cp = df.localCheckpoint()
        val release = () => cp.queryExecution.logical match {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(blocking = false); ()
          case _ => () // unexpected plan shape: fall back to GC reclaim
        }
        (cp, release)
    })

  /** [[materialize]] with a PARTITION column — for stored state whose
    * lifecycle operations are per-partition, e.g. the provenance-tagged
    * dedup indexes (q102/q103) whose RETRACTION of batch B is
    * `filter(batch_id =!= B)`: over a batch_id-partitioned store that
    * filter is partition PRUNING — the retracted batch's files are
    * never opened, and physically dropping the batch is one directory
    * delete. The partition column is read back as part of the schema
    * (cast back to the written dtype: partition-value inference would
    * otherwise narrow a long batch_id to int, changing the schema
    * between scratch modes).
    *
    * localCheckpoint mode keeps the same semantics minus the pruning —
    * correctness never depends on the layout, only retraction COST does.
    */
  def materializePartitioned(df: DataFrame, name: String, partCol: String)
      : DataFrame =
    graft.Ledger.leg(name)(df.sparkSession.conf.getOption("graft.scratch.dir") match {
      case Some(_) =>
        val root = scratchRoot(df)
        installCleanup(root)
        val path = Paths.get(root, name).toString
        df.write.mode("overwrite").partitionBy(partCol).parquet(path)
        val written = df.schema(partCol).dataType
        df.sparkSession.read.parquet(path)
          .withColumn(partCol,
            org.apache.spark.sql.functions.col(partCol).cast(written))
          // partitionBy moves partCol to the schema tail on read-back;
          // restore the written column order so both scratch modes
          // present one shape
          .select(df.columns.map(org.apache.spark.sql.functions.col)
            .toIndexedSeq: _*)
      case None => df.localCheckpoint()
    })
}
