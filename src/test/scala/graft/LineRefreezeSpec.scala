package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.{Dedup, Partials, Scratch, TextAnalysis}

/** Behavioral gates for the incremental chrome re-freeze (q133/q134) —
  * the contracts the value-hash oracles cannot stage on the generated
  * corpus: BOTH flip directions plus the no-flip class in one fixture
  * (each entry's corpus only drifts one way), the structural claim
  * that the move never re-parses text and never shuffles, the
  * commutation of re-freeze with retraction (moved rows keep their
  * origin batch_id), and a seeded drift fuzz where refrozen must equal
  * a from-scratch rebuild under the new census on both store sides.
  */
class LineRefreezeSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  private def words(pfx: String, n: Int): String =
    (0 until n).map(i => s"$pfx$i").mkString(" ")

  /** Chrome pairs (source, lmd5) of a census over `docs` — the
    * entries' collapsedCensus spelling over one batch. */
  private def chromeOf(docs: DataFrame): DataFrame = {
    val li = TextAnalysis.lineDigests(TextAnalysis.pageDocs(docs))
    TextAnalysis.collapsedCensus(TextAnalysis.lineCensusPartials(li, 0L))
      .select(col("source"), col("lmd5"))
  }

  private def stateOf(docs: DataFrame, chrome: DataFrame, batchId: Long)
      : Partials =
    TextAnalysis.lineStatePartials(
      TextAnalysis.lineDigests(TextAnalysis.pageDocs(docs)), chrome,
      batchId)

  private def rows(df: DataFrame): Set[(String, Long, Long)] =
    df.select(col("source"), col("doc_id"), col("gid"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet

  // The three-class fixture, one source: bootstrap docs (batch 0, ids
  // ≡ 0 mod 3 → footerless, ≢ 0 mod 17 → promo-less) all share body
  // window SHARED0..7 (chrome at freeze); delta docs (batch 1, same id
  // classes) never carry it but all share NEW0..7 (not chrome at
  // freeze). After both batches: SHARED sits at 3/9 → verdict flips
  // OFF (the q134 direction), NEW at 6/9 → flips ON (q133's), the
  // constructed nav line at 9/9 → chrome in both (no flip), and each
  // doc's unique windows stay content in both.
  private val bootIds = Seq(3L, 6L, 12L)
  private val deltaIds = Seq(9L, 15L, 18L, 21L, 24L, 27L)
  private def fixtureBoot = bootIds.map(i =>
    (i, "s0", words("SHARED", 8) + " " + words(s"u$i", 8)))
  private def fixtureDelta = deltaIds.map(i =>
    (i, "s0", words("NEW", 8) + " " + words(s"u$i", 8)))

  private def fixtureStores(): (Partials, Partials, DataFrame, DataFrame) = {
    val boot = docsDf(fixtureBoot)
    val delta = docsDf(fixtureDelta)
    val all = docsDf(fixtureBoot ++ fixtureDelta)
    val cOld = chromeOf(boot)
    val cNew = chromeOf(all)
    val stored = stateOf(boot, cOld, 0L).union(stateOf(delta, cOld, 1L))
    val rebuilt = stateOf(boot, cNew, 0L).union(stateOf(delta, cNew, 1L))
    (stored, rebuilt, cOld, cNew)
  }

  test("re-freeze handles both flip directions and the no-flip class: refrozen ≡ rebuilt-under-C_new on BOTH store sides") {
    val (stored, rebuilt, cOld, cNew) = fixtureStores()
    // the fixture stages real drift in both directions
    val oldSet = cOld.collect().map(_.getString(1)).toSet
    val newSet = cNew.collect().map(_.getString(1)).toSet
    assert((newSet -- oldSet).nonEmpty, "fixture stages no ADDED flip")
    assert((oldSet -- newSet).nonEmpty, "fixture stages no REMOVED flip")
    assert((oldSet & newSet).nonEmpty, "fixture stages no no-flip chrome")
    val refrozen = TextAnalysis.refreezeLineState(stored, cOld, cNew)
    assert(rows(refrozen("surv")) == rows(rebuilt("surv")),
      "refrozen surv diverged from rebuild under C_new")
    assert(rows(refrozen("strip")) == rows(rebuilt("strip")),
      "refrozen strip diverged from rebuild under C_new")
    // and the move is observable: the resurrected SHARED postings are
    // bootstrap rows now in surv; the quarantined NEW postings are
    // delta rows now in strip
    val sharedGid = rows(refrozen("surv"))
      .filter(r => bootIds.contains(r._2))
      .map(_._3) & rows(stored("strip")).map(_._3)
    assert(sharedGid.nonEmpty, "no strip→surv resurrection happened")
    val movedOut = rows(refrozen("strip")).map(_._3) &
      rows(stored("surv")).filter(r => deltaIds.contains(r._2)).map(_._3)
    assert(movedOut.nonEmpty, "no surv→strip quarantine happened")
  }

  test("the re-freeze move is postings-only: no text re-parse, no shuffle exchange in either side's plan over stored state") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val (stored, _, cOld, cNew) = fixtureStores()
    // the entries' store step: both sides land on disk first
    val st = Partials(Seq(
      "surv" -> Scratch.materialize(stored("surv"), "lrf_surv"),
      "strip" -> Scratch.materialize(stored("strip"), "lrf_strip")))
    val refrozen = TextAnalysis.refreezeLineState(st,
      broadcast(cOld), cNew)
    for ((name, side) <- refrozen.rels) {
      val p = side.queryExecution.executedPlan
      val shuffles = p.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        s"$name move plan shuffles: ${shuffles.mkString("; ")}")
      // the flip sets themselves aggregate (tiny, broadcast side);
      // the STORED postings must stream through scan-stage joins only
      assert(!p.toString.toLowerCase.contains("regexp"),
        s"$name move plan re-parses text")
    }
  }

  test("re-freeze commutes with retraction: moved rows keep their origin batch_id") {
    val (stored, _, cOld, cNew) = fixtureStores()
    val thenRetract =
      TextAnalysis.refreezeLineState(stored, cOld, cNew).retract(1L)
    val retractFirst = TextAnalysis.refreezeLineState(
      stored.retract(1L), cOld, cNew)
    assert(rows(thenRetract("surv")) == rows(retractFirst("surv")) &&
      rows(thenRetract("strip")) == rows(retractFirst("strip")),
      "re-freeze does not commute with batch retraction")
  }

  test("seeded drift fuzz: refrozen ≡ rebuilt-under-C_new across random corpora and splits") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      // ids ≡ 0 mod 3 half the time so footer presence varies; shared
      // windows drawn from a tiny pool so census verdicts actually
      // drift between the bootstrap and the union
      val ids = (1 to 24).map(i => i.toLong * (if (rnd.nextBoolean()) 3 else 1))
        .distinct
      val docs = ids.map { id =>
        val shared = words(s"P${rnd.nextInt(3)}", 8)
        val own = words(s"u${id}s$seed", 8)
        (id, s"src${rnd.nextInt(2)}",
          if (rnd.nextBoolean()) s"$shared $own" else own)
      }
      val k = 1 + rnd.nextInt(docs.size - 1)
      val (bootRows, deltaRows) = docs.splitAt(k)
      val boot = docsDf(bootRows); val delta = docsDf(deltaRows)
      val all = docsDf(bootRows ++ deltaRows)
      val cOld = chromeOf(boot); val cNew = chromeOf(all)
      val stored = stateOf(boot, cOld, 0L).union(stateOf(delta, cOld, 1L))
      val rebuilt = stateOf(boot, cNew, 0L).union(stateOf(delta, cNew, 1L))
      val refrozen = TextAnalysis.refreezeLineState(stored, cOld, cNew)
      assert(rows(refrozen("surv")) == rows(rebuilt("surv")),
        s"seed $seed: surv diverged")
      assert(rows(refrozen("strip")) == rows(rebuilt("strip")),
        s"seed $seed: strip diverged")
    }
  }
}
