package graft.core

/** Core chain data model — the Spark-native re-expression of the
  * reference's block-event stream (SURVEY.md §1).
  *
  * The unit of data is an ordered, *revocable* stream of block events:
  * `RollForward(block)` appends; `RollBack(slot, mode)` retracts a suffix.
  * (Reference: `src/Argus.Sync/Data/Models/NextResponse.cs:10-16`,
  * `NextResponseAction.cs:6-14`, `RollbackType.cs:6-12`.)
  */

/** A chain position — reference `Data/Models/Point.cs:8-12`. */
final case class Point(hash: String, slot: Long)

/** Spent-output reference — reference §1.2 `tx.Inputs()`. */
final case class TxInput(txId: String, index: Int)

/** Created output — reference §1.2 `tx.Outputs()`. Address kept as a hex
  * string (the reference matches on raw address bytes, hex-encoded, to
  * avoid bech32 decode in the hot path — `LovelaceBalanceByAddressReducer
  * .cs:18-20`; hex case is load-bearing, `:50-51` — we normalize to
  * lowercase at generation).
  */
final case class TxOutput(address: String, lovelace: Long)

final case class Tx(
    txHash: String,
    inputs: Seq[TxInput],
    outputs: Seq[TxOutput])

/** Chain eras — mirror of the reference's enumeration
  * (`Data/Models/Enums/Era.cs:6-24`). The block decoder
  * ([[graft.sources.CborBlock]]) accepts only the Shelley-family eras
  * (Shelley..Conway): a wire era index outside that range — Byron, or
  * a hard fork the decoder does not know yet — is rejected as an
  * undecodable block and counted in `CborBlock.unsupportedEraCount`, so
  * a fork shows in telemetry instead of as misparsed blocks.
  */
object Era {
  val Unknown = 0
  val Byron = 1
  val Shelley = 2
  val Allegra = 3
  val Mary = 4
  val Alonzo = 5
  val Babbage = 6
  val Conway = 7
  val Max: Int = Conway
  def name(era: Int): String = era match {
    case Byron => "byron"; case Shelley => "shelley"
    case Allegra => "allegra"; case Mary => "mary"
    case Alonzo => "alonzo"; case Babbage => "babbage"
    case Conway => "conway"; case _ => "unknown"
  }
}

/** One block — the §1.2 input schema. `era` rides the wire envelope
  * (`ArgusUtil.cs:38-71` peels `[era, block]`) and is a first-class
  * column here; generated chains default to Babbage.
  */
final case class Block(
    hash: String,
    height: Long,
    slot: Long,
    transactions: Seq[Tx],
    era: Int = Era.Babbage)

/** Rollback semantics: whether the rollback point itself is destroyed.
  * Reference `RollbackType.cs:6-12`; normalization Exclusive ⇒ delete
  * `>= slot + 1` happens in the runner (ReducerGraphProcessor.cs:178-183).
  */
sealed trait RollbackMode
case object Inclusive extends RollbackMode
case object Exclusive extends RollbackMode

/** A block event — the discriminated record driving the engine. */
sealed trait BlockEvent
final case class RollForward(block: Block) extends BlockEvent
final case class RollBack(point: Point, mode: RollbackMode) extends BlockEvent

/** Persisted per-reducer checkpoint: a rolling window of the newest
  * distinct-slot points, kept so a resuming consumer can find a surviving
  * intersection after a reorg. Pure port of
  * `Data/ReducerStateCheckpointWindow.cs:13-45`.
  */
object CheckpointWindow {
  val DefaultMaxCount = 10

  /** Normalize: newest-first, distinct by slot, capped. (`:36-45`) */
  def normalize(points: Seq[Point], maxCount: Int = DefaultMaxCount): Seq[Point] =
    points.sortBy(-_.slot).distinctBy(_.slot).take(maxCount)

  /** Roll forward: drop points at or past the new slot, prepend, cap.
    * (`:19-25`)
    */
  def addRollForward(points: Seq[Point], p: Point,
      maxCount: Int = DefaultMaxCount): Seq[Point] =
    normalize(p +: points.filter(_.slot < p.slot), maxCount)

  /** Rollback: keep only points strictly before the slot. (`:28-33`) */
  def applyRollback(points: Seq[Point], slot: Long,
      maxCount: Int = DefaultMaxCount): Seq[Point] =
    normalize(points.filter(_.slot < slot), maxCount)

  def latest(points: Seq[Point]): Option[Point] =
    points.sortBy(-_.slot).headOption
}
