package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Declarative compaction for a table: which rows may be dropped once
  * the rollback frontier (= current tip − MaxRollbackSlots, the
  * reference's T6 guard) proves no retraction can ever resurrect them.
  * This is how per-batch state reads stay proportional to the LIVE set
  * instead of chain length — the segment-log analogue of the reference's
  * `HasIndex(SpentSlot)` sargability (P9, `TestDbContext.cs:36-37`).
  *
  * Both shapes are SQL-pushable: a DB backend runs them as one
  * set-based `DELETE` inside the commit transaction (zero driver
  * memory); the segment store runs them as anti/semi joins during the
  * segment fold.
  */
sealed trait Compaction
object Compaction {
  /** Drop rows matched on `keyCols` by a row of `againstTable` whose
    * `againstSlotCol` is at or before the frontier (e.g. utxo_created
    * pairs whose spend is final). */
  final case class DropMatched(againstTable: String, keyCols: Seq[String],
      againstSlotCol: String) extends Compaction
  /** Drop rows whose own `slotCol` is at or before the frontier AND that
    * match no row of `againstTable` on `keyCols` (e.g. final spend
    * tombstones whose created pair is already gone). Rows inside the
    * rollback window are always kept. */
  final case class DropUnmatched(againstTable: String, keyCols: Seq[String],
      selfSlotCol: String) extends Compaction
}

/** A table a reducer owns: schema plus the slot column used for
  * retraction (every output table is slot-keyed — reference
  * `IReducerModel.cs:8-12`: "the one required column is Slot").
  *
  * `compactWith`: optional [[Compaction]] applied when the store compacts
  * this table.
  */
final case class TableDef(name: String, schema: StructType,
    slotCol: String = "slot",
    compactWith: Option[Compaction] = None)

/** Per-batch context handed to reducers.
  *
  * `table` reads committed state; `parentOutput` exposes a parent
  * reducer's same-batch (uncommitted) output — the Spark-lineage analogue
  * of the reference's `.Local` views (SURVEY.md O9:
  * `DependentTransactionReducer.cs:28-32`). Dataflow dependency inside one
  * batch is free here: the child's plan simply consumes the parent's
  * DataFrame.
  *
  * A context lives for one batch, and nothing commits while it does, so
  * `table` reads each table's committed state once and hands every later
  * caller (a reducer's spend matching, its child's `tableWithBatch`, the
  * commit's compactors) the same relation.
  */
final class BatchContext(
    val spark: SparkSession,
    store: Store,
    defs: Map[String, TableDef],
    var outputs: Map[String, Map[String, DataFrame]]) {

  private val committed = scala.collection.mutable.Map[String, DataFrame]()

  def table(name: String): DataFrame = committed.synchronized {
    committed.getOrElseUpdate(name, store.read(name, defs(name).schema))
  }

  /** Only the newest committed segment of a table — the bounded prior-
    * state read for tables whose latest segment is self-contained (every
    * key re-written every batch). See StateStore.readLatestSegment.
    */
  def latestSegment(name: String): DataFrame =
    store.readLatestSegment(name, defs(name).schema)

  def parentOutput(reducer: String, table: String): DataFrame =
    outputs(reducer)(table)

  /** Committed state plus the named reducer's same-batch appends — the
    * `local ++ db` union of the reference (`WatchedAddressBalanceReducer
    * .cs:74-78`).
    */
  def tableWithBatch(reducer: String, name: String): DataFrame =
    outputs.get(reducer).flatMap(_.get(name)) match {
      case Some(local) => table(name).unionByName(local)
      case None => table(name)
    }

  /** Materialize a subtree SHARED by several of one reducer's output
    * tables, so each collect doesn't re-execute it (a reducer returning
    * `created` and a `spent` built FROM `created` would otherwise run
    * the created plan twice per batch). Driver-committing stores get a
    * local relation (its later collect is a free LocalTableScan);
    * distributed stores get an executor cache released after the commit.
    */
  private[core] val staged = scala.collection.mutable.ArrayBuffer[DataFrame]()
  def stage(df: DataFrame): DataFrame =
    if (store.preferLocalOutputs)
      BatchContext.localized(spark, df)
    else {
      val c = df.cache()
      staged += c
      c
    }
}

/** The engine's user-extension surface — the moral equivalent of the
  * reference's `IReducer.RollForwardAsync`/`RollBackwardAsync`
  * (`Reducers/IReducer.cs:26,36`), re-shaped for Spark: a reducer maps the
  * batch's block DataFrame to per-table append DataFrames. Retraction is
  * declarative (`DELETE WHERE slotCol >= s` per TableDef) instead of
  * hand-written per reducer.
  */
trait ChainReducer {
  def name: String

  /** Single optional dependency — the reference's `[DependsOn]` constraint
    * (one parent per reducer, `DependsOnAttribute.cs:8`; cycle/missing
    * validation ported in GraphRunner).
    */
  def dependsOn: Option[String] = None

  def tables: Seq[TableDef]

  /** blocks: one row per block with the §1.2 nested schema. Returns
    * table -> rows to append (empty DataFrames are fine — empty-batch
    * commit deferral is the runner's job).
    */
  def rollForward(blocks: DataFrame, ctx: BatchContext): Map[String, DataFrame]
}

object BatchContext {
  /** Collect `df` into a LOCAL relation (its later collect/scan is a
    * free LocalTableScan) — the driver-commit materialization idiom
    * shared by `stage` and GraphRunner's output localization, factored
    * so a memory-safety change (e.g. toLocalIterator) reaches both.
    */
  private[core] def localized(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
}
