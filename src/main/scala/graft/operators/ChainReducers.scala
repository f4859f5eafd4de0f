package graft.operators

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's example reducer family re-expressed Spark-first
  * (SURVEY.md §2: O1/O2, O5-O11, O14).
  */

/** The default 4-reducer graph (header → tx explode, watched-UTxO →
  * balance snapshots) — ONE factory shared by every tool/entrypoint so
  * the registered set cannot silently diverge between them.
  */
object ReducerGraphs {
  def default(watched: Map[String, String]): Seq[ChainReducer] = Seq(
    new BlockSummaryReducer,
    new TxIndexReducer,
    new WalletUtxoReducer(watched),
    new BalanceSnapshotReducer(watched))
}

/** Header projection (O1): block → one summary row.
  * Reference `BlockTestReducer.cs:24-36`.
  */
final class BlockSummaryReducer extends ChainReducer {
  val name = "block_summary"
  val tables = Seq(TableDef("blocks", StructType(Seq(
    StructField("hash", StringType),
    StructField("height", LongType),
    StructField("slot", LongType)))))

  def rollForward(blocks: DataFrame, ctx: BatchContext): Map[String, DataFrame] =
    Map("blocks" -> blocks.select(col("hash"), col("height"), col("slot")))
}

/** Block → transactions explode (O5) with positional index, denormalizing
  * block hash/height onto each row; consumes the PARENT's same-batch
  * output (O9's `.Local` visibility) for the block attributes.
  * Reference `TransactionTestReducer.cs:36-41`,
  * `DependentTransactionReducer.cs:28-32`.
  */
final class TxIndexReducer extends ChainReducer {
  val name = "tx_index"
  override val dependsOn = Some("block_summary")
  val tables = Seq(TableDef("transactions", StructType(Seq(
    StructField("txHash", StringType),
    StructField("txIdx", IntegerType),
    StructField("slot", LongType),
    StructField("blockHash", StringType),
    StructField("blockHeight", LongType)))))

  def rollForward(blocks: DataFrame, ctx: BatchContext): Map[String, DataFrame] = {
    val parentBlocks = ctx.parentOutput("block_summary", "blocks")
    val txs = blocks
      .select(col("hash"), posexplode(col("transactions")).as(Seq("txIdx", "tx")))
      .select(col("tx.txHash").as("txHash"),
        col("txIdx").cast("int").as("txIdx"), col("hash").as("blockHash"))
    Map("transactions" -> txs
      .join(parentBlocks.withColumnRenamed("hash", "blockHash"), "blockHash")
      .select(col("txHash"), col("txIdx"), col("slot"), col("blockHash"),
        col("height").as("blockHeight")))
  }
}

/** Watched-address UTxO tracking — the reference's core stateful operator
  * (O2 watched predicate, O6 input/output explode, O7 spend-matching
  * join, O8 same-batch create-then-spend visibility).
  * Reference `LovelaceBalanceByAddressReducer.cs:26-106`.
  *
  * Spend tombstones are EVENTS in their own slot-keyed table (`utxo_spent`)
  * rather than in-place `SpentSlot` updates: rolling back a spend is then
  * the same segment-pruned delete as any other retraction — the reference's
  * "resurrect" UPDATE (`:115-127`) falls out for free. The reference's
  * `WalletUtxo` view (with its SpentSlot column) is `unspentView`.
  */
final class WalletUtxoReducer(watched: Map[String, String]) extends ChainReducer {
  val name = "wallet_utxo"
  val tables = Seq(
    // compactWith: when the store folds old utxo_created segments, drop
    // pairs whose spend is FINAL (spentSlot at or before the rollback
    // frontier — the depth guard T6 proves no retraction can resurrect
    // them). The table then holds live UTxOs + the churn of the rollback
    // window, so per-batch spend matching reads O(live set), not
    // O(chain history) — the reference's `HasIndex(SpentSlot)` made
    // incremental (P9). unspentView is unchanged by construction.
    TableDef("utxo_created", StructType(Seq(
      StructField("txHash", StringType),
      StructField("txIndex", IntegerType),
      StructField("slot", LongType),
      StructField("address", StringType),
      StructField("addressName", StringType),
      StructField("amount", LongType))),
      compactWith = Some(Compaction.DropMatched(
        "utxo_spent", Seq("txHash", "txIndex"), "spentSlot"))),
    // The tombstone table compacts too: a FINAL spend (spentSlot at or
    // before the frontier) whose created pair is already dropped serves
    // no query — unspentView anti-joins it against nothing. Without this
    // the spent log grows O(chain) on both backends; with it, both UTxO
    // tables hold the live set + the rollback window's churn.
    TableDef("utxo_spent", StructType(Seq(
      StructField("txHash", StringType),
      StructField("txIndex", IntegerType),
      StructField("spentSlot", LongType))), slotCol = "spentSlot",
      compactWith = Some(Compaction.DropUnmatched(
        "utxo_created", Seq("txHash", "txIndex"), "spentSlot"))))

  def rollForward(blocks: DataFrame, ctx: BatchContext): Map[String, DataFrame] = {
    // O6: tx → created outputs with positional index; O2: watched filter
    // as a map-literal lookup on the raw address (P7: no decode in the
    // hot path, and no broadcast stage in front of the staged collect).
    // `created` feeds BOTH returned tables (spent's matchable union
    // embeds it) — stage it once so the two collects share one
    // execution instead of running the explode+filter subtree twice.
    val created = ctx.stage(blocks
      .select(col("slot"), explode(col("transactions")).as("tx"))
      .select(col("slot"), col("tx.txHash").as("txHash"),
        posexplode(col("tx.outputs")).as(Seq("txIndex", "o")))
      .select(col("txHash"), col("txIndex").cast("int").as("txIndex"),
        col("slot"), col("o.address").as("address"),
        typedLit(watched).apply(col("o.address")).as("addressName"),
        col("o.lovelace").as("amount"))
      .filter(col("addressName").isNotNull))
    // O6: tx → spent refs
    val refs = blocks
      .select(col("slot").as("spentSlot"), explode(col("transactions")).as("tx"))
      .select(col("spentSlot"), explode(col("tx.inputs")).as("in"))
      .select(col("in.txId").as("txHash"),
        col("in.index").cast("int").as("txIndex"), col("spentSlot"))
    // O7/O8: spend-matching equi-join against committed state ∪ this
    // batch's creates (read-your-own-writes, the `.Local ++ db` union).
    val matchable = ctx.table("utxo_created")
      .select(col("txHash"), col("txIndex"))
      .unionByName(created.select(col("txHash"), col("txIndex")))
    val spent = refs.join(matchable, Seq("txHash", "txIndex"), "left_semi")
    Map("utxo_created" -> created, "utxo_spent" -> spent)
  }
}

object WalletUtxoReducer {
  /** The reference's `WalletUtxo` table shape: created rows with a
    * nullable SpentSlot tombstone (`Models/WalletUtxo.cs:11-33`).
    */
  def utxoView(created: DataFrame, spent: DataFrame): DataFrame =
    created.join(spent, Seq("txHash", "txIndex"), "left_outer")

  def unspentView(created: DataFrame, spent: DataFrame): DataFrame =
    utxoView(created, spent).filter(col("spentSlot").isNull)
}

/** Per-block balance snapshots (O10 aggregation + O14 snapshot append):
  * one row per (block, watched address) holding the unspent balance as of
  * that block — an incrementally-maintained aggregate with full history.
  * Reference `WatchedAddressBalanceReducer.cs:79-96`.
  *
  * One relation, one exchange: the batch's rows are a tagged union,
  * partitioned once on `addressName` and read by one running window
  * ordered by (prior rows first, slot, kind).
  *  - `Prior`: the rows of this table's newest committed segment (O14's
  *    latest-per-key read). Every batch writes every watched address at
  *    every block, so that segment holds each address's latest balance
  *    and the read is O(previous batch), not O(snapshot history).
  *    `last(base, ignoreNulls)` over the running frame is then the
  *    balance at the segment's highest slot, `max_by(balance, slot)`.
  *  - `Delta`: +amount at a creation slot, −amount at a spend slot. Only
  *    slots of this reducer's own blocks count: a parent that starts
  *    earlier delivers creates and spends no snapshot covers.
  *  - `Grid`: one row per block and watched address, exploded from the
  *    watched-set literal. It sorts after the deltas of its slot, so the
  *    running `sum(delta)` includes them.
  * Only grid rows are kept, and of a block slot delivered twice (at-least-
  * once streaming input) only the first. At a few hundred rows per batch
  * each query stage costs more than its compute, so the plan has one
  * shuffle and no join beyond the spend match and the slot filter.
  */
final class BalanceSnapshotReducer(watched: Map[String, String]) extends ChainReducer {
  // one name per address, ONE ADDRESS PER NAME: the snapshot window
  // partitions on addressName while each grid row carries one address,
  // so two addresses sharing a name would sum each other's deltas into
  // both running balances — corrupt balances that the prior-snapshot
  // read then compounds forever. The reference's config is name-keyed
  // (one address per name); fail loudly on anything else.
  require(watched.values.toSet.size == watched.size,
    s"watched address names must be unique: ${watched.values.toSeq.sorted}")
  val name = "balance_by_address"
  override val dependsOn = Some("wallet_utxo")
  val tables = Seq(TableDef("balance_snapshots", StructType(Seq(
    StructField("reducer", StringType),
    StructField("addressName", StringType),
    StructField("address", StringType),
    StructField("slot", LongType),
    StructField("balance", LongType)))))

  def rollForward(blocks: DataFrame, ctx: BatchContext): Map[String, DataFrame] = {
    import BalanceSnapshotReducer._
    import org.apache.spark.sql.expressions.Window
    def tagged(df: DataFrame, kind: Int, address: Column, base: Column,
        delta: Column): DataFrame =
      df.select(col("addressName"), address.cast(StringType).as("address"),
        col("slot"), lit(kind).as("kind"), base.cast(LongType).as("base"),
        delta.cast(LongType).as("delta"))
    val none = lit(null)
    val created = ctx.parentOutput("wallet_utxo", "utxo_created")
    val spentRefs = ctx.parentOutput("wallet_utxo", "utxo_spent")
    val allCreated = ctx.tableWithBatch("wallet_utxo", "utxo_created")
    val prior = tagged(ctx.latestSegment("balance_snapshots"), Prior,
      none, col("balance"), none)
    val plus = created.select(col("addressName"), col("slot"),
      col("amount").as("delta"))
    val minus = spentRefs
      .join(allCreated, Seq("txHash", "txIndex"))
      .select(col("addressName"), col("spentSlot").as("slot"),
        (-col("amount")).as("delta"))
    val deltas = tagged(plus.unionByName(minus)
      .join(blocks.select(col("slot")), Seq("slot"), "left_semi"),
      Delta, none, none, col("delta"))
    val grid = tagged(blocks.select(col("slot"),
        explode(typedLit(watched.toSeq.sorted)).as("w"))
      .select(col("slot"), col("w._1").as("address"),
        col("w._2").as("addressName")),
      Grid, col("address"), none, none)
    val ordered = Window.partitionBy(col("addressName"))
      .orderBy(col("kind") =!= Prior, col("slot"), col("kind"))
    val running =
      ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val repeated = lag(col("kind"), 1).over(ordered) === Grid &&
      lag(col("slot"), 1).over(ordered) === col("slot")
    val snaps = prior.unionByName(deltas).unionByName(grid)
      .select(col("addressName"), col("address"), col("slot"), col("kind"),
        (coalesce(last(col("base"), ignoreNulls = true).over(running), lit(0L)) +
          coalesce(sum(col("delta")).over(running), lit(0L))).as("balance"),
        coalesce(repeated, lit(false)).as("repeated"))
      .filter(col("kind") === Grid && !col("repeated"))
      .select(lit(name).as("reducer"), col("addressName"), col("address"),
        col("slot"), col("balance"))
    Map("balance_snapshots" -> snaps)
  }
}

object BalanceSnapshotReducer {
  /** Row kinds of the snapshot window, in their order within one slot. */
  private final val Prior = 0
  private final val Delta = 1
  private final val Grid = 2
}
