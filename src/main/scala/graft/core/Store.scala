package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** A table's [[Compaction]] bound to one commit's rollback frontier,
  * carrying BOTH execution forms so each backend picks its native one:
  * `run` is the DataFrame filter the segment store folds; `sql` is the
  * same shape as a DB backend executes it, one set-based `DELETE` in the
  * commit transaction — no driver-side buffering of the live set.
  *
  * `schema` comes from the table REGISTRY (not from the committing
  * batch's appends), so a registered compactor runs on every compaction
  * cycle even when its table received no rows that batch.
  */
final case class BoundCompactor(schema: StructType,
    run: DataFrame => DataFrame, sql: SqlCompaction)

/** Declarative, SQL-pushable compaction: delete rows of the target table
  * that `DropMatched`/`DropUnmatched` (see [[Compaction]]) prove dead at
  * `frontier`. */
final case class SqlCompaction(againstTable: String, keyCols: Seq[String],
    slotCol: String, frontier: Long, dropMatched: Boolean)

/** The storage seam — the reference's `IBlockUnitOfWork` contract
  * (`Reducers/IBlockUnitOfWork.cs:21-56`), proven there by two backends
  * (EF/Postgres `EfBlockUnitOfWork.cs:18-247`, Mongo
  * `MongoBlockUnitOfWork.cs:20-186`). One commit atomically persists
  * every reducer's rows AND every reducer's checkpoint; a crash mid-
  * commit leaves the previous state fully intact; replay of an old
  * batchId is a no-op.
  *
  * Implementations here: `StateStore` (parquet segment log + manifest —
  * the 100 TB scale path) and `JdbcStore` (embedded Derby, one JDBC
  * transaction per commit — the transactional-DB path matching the
  * reference's deployment shape). The GraphRunner contract suite runs
  * against both.
  */
trait Store {

  /** Filesystem root identifying this store (single-writer lock scope). */
  def root: String

  /** True when the backend commits batches driver-side (bounded rows per
    * micro-batch): the runner then materializes each reducer's outputs
    * as LOCAL relations — one Spark action per reducer instead of one
    * per downstream reference, and the commit's own collect becomes a
    * free LocalTableScan. False (default): outputs are cached on
    * executors instead, same dedup of parent plans, fully distributed.
    */
  def preferLocalOutputs: Boolean = false

  /** Highest committed batch id (-1 when empty). */
  def batchId: Long

  /** Per-reducer checkpoint windows as of the last commit. */
  def checkpoints: Map[String, Seq[Point]]

  /** Current committed contents of a table (empty DF if absent). */
  def read(table: String, schema: StructType): DataFrame

  /** Only the newest committed batch/segment of a table — the bounded
    * prior-state read for tables whose latest write is self-contained.
    */
  def readLatestSegment(table: String, schema: StructType): DataFrame

  /** Atomically commit appends + checkpoints as batch `batchId`.
    * False (and no state change) when the batchId is stale (idempotent
    * replay, T3) or every append is empty (empty-commit deferral, T4).
    */
  def commit(batchId: Long, appends: Map[String, (DataFrame, String)],
      checkpoints: Map[String, Seq[Point]],
      compactors: Map[String, BoundCompactor] = Map.empty,
      onSegment: (String, Double) => Unit = (_, _) => ()): Boolean

  /** Retraction: `DELETE WHERE slotCol >= delSlot` on every table plus
    * the checkpoint rewind, atomically; never deferred (T5).
    */
  def rollback(delSlot: Long, slotCols: Map[String, String],
      checkpoints: Map[String, Seq[Point]]): Unit
}
