package graft.queries

import graft.Overlap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned index state: named relations whose rows carry the
  * `batch_id` of the promote that produced them. Every incremental
  * index in the catalog (lexical q100/q102, semantic q101/q103,
  * boilerplate census q115/q116, containment q128/q129, line
  * containment and chrome re-freeze q131–q134) stores its state this
  * way, and so does every StreamingPromote family — so one
  * spelling of the lifecycle serves them all; a family contributes only
  * its per-batch `build` and the `collapse` that turns surviving
  * partials into its probe shape.
  *
  * The algebra restates the reference's retraction-first design
  * (`ReducerGraphProcessor.cs:176-209` rolls reducer state back by
  * replaying inverse deltas) as operations on stored relations:
  *
  *  - merge is [[union]] — promote appends a batch's partial states,
  *    and collapse defers any min/sum/count to probe time, where the
  *    group is batches-per-key rather than docs-per-key;
  *  - retract is [[retract]], a `filter(batch_id =!= b)`: a plain
  *    collapsed aggregate is not subtractable (dropping a batch can
  *    raise a min), but per-batch partials are, so the collapse over
  *    the survivors IS the index over the surviving documents;
  *  - store is [[store]], one batch_id-partitioned materialize per
  *    relation, over which retract is partition pruning;
  *  - on disk, [[write]] overwrites one `batch_id=<b>` partition per
  *    relation (Structured Streaming replays a failed micro-batch under
  *    the same id, so replay overwrites instead of duplicating) and
  *    [[Partials.demote]] deletes those partition directories.
  *
  * `release` frees a build's per-batch materialized scan; a streaming
  * promote calls it once the batch's writes have landed.
  */
final case class Partials(rels: Seq[(String, DataFrame)],
    release: () => Unit = () => ()) {

  def apply(name: String): DataFrame =
    rels.collectFirst { case (n, df) if n == name => df }.getOrElse(
      throw new NoSuchElementException(
        s"no relation '$name' in partials ${rels.map(_._1).mkString(", ")}"))

  /** Merge: relation-wise union (both sides carry the same names). */
  def union(o: Partials): Partials =
    Partials(rels.map { case (n, df) => n -> df.union(o(n)) },
      () => { release(); o.release() })

  /** Both values' relations side by side (disjoint names). */
  def ++(o: Partials): Partials =
    Partials(rels ++ o.rels, () => { release(); o.release() })

  /** Retract one batch: exactly the rows its promote appended. */
  def retract(batchId: Long): Partials =
    copy(rels = rels.map { case (n, df) =>
      n -> df.filter(col("batch_id") =!= batchId) })

  /** Store every relation partitioned by batch_id, named `<tag>_<name>`;
    * the stores are independent jobs and overlap like [[write]]'s. */
  def store(tag: String): Partials =
    copy(rels = rels.map(_._1).zip(Overlap.all(rels.map {
      case (n, df) => () =>
        Scratch.materializePartitioned(df, s"${tag}_$n", "batch_id")
    })))

  /** Overwrite each relation's own `batch_id=<b>` partition under its
    * directory in `dirs`. The writes are independent jobs, so they
    * overlap on driver threads: one write's task tail back-fills the
    * other's idle cores, and a micro-batch pays one write latency
    * instead of one per relation. */
  def write(dirs: Partials.Dirs, batchId: Long): Unit = {
    Overlap.all(dirs.map { case (n, dir) => () =>
      this(n).drop("batch_id").write.mode("overwrite")
        .parquet(s"$dir/batch_id=$batchId")
    })
    ()
  }
}

object Partials {

  /** Where a value lives on disk: relation name → directory. */
  type Dirs = Seq[(String, String)]

  /** Tag every relation's rows with one batch id. */
  def tagged(batchId: Long, rels: (String, DataFrame)*): Partials =
    Partials(rels.map { case (n, df) => n -> df.withColumn("batch_id", lit(batchId)) })

  /** The stored value, partition-discovered; `batch_id` is cast back to
    * long (partition inference narrows it to int). `shape` is the
    * family's relation schemas (name → DDL): a relation with no data
    * files — nothing promoted yet, every batch demoted, or a 0-row
    * partition, for which Spark writes no file — reads as an empty
    * relation of its shape, since schema inference would fail. */
  def read(spark: SparkSession, dirs: Dirs,
      shape: Map[String, String]): Partials =
    Partials(dirs.map { case (n, dir) =>
      n -> shape.get(n).filterNot(_ => hasData(dir)).fold(
        spark.read.parquet(dir)
          .withColumn("batch_id", col("batch_id").cast("long")))(ddl =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(ddl)))
    })

  private def hasData(dir: String): Boolean = {
    val d = new java.io.File(dir)
    d.isDirectory && Option(d.listFiles).exists(
      _.exists(sub => sub.isDirectory && Option(sub.listFiles).exists(
        _.exists(_.getName.endsWith(".parquet")))))
  }

  /** Demote one batch on disk: delete its partition directory in every
    * relation — the physical form of [[Partials.retract]], no read of
    * surviving state. */
  def demote(dirs: Dirs, batchId: Long): Unit =
    dirs.foreach { case (_, dir) => Scratch.deleteTree(s"$dir/batch_id=$batchId") }
}
