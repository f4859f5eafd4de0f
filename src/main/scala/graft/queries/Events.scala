package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Conventions._

/** Event-time windowing over the `events` stream table (SURVEY.md §2.8).
  *
  * The reference has no watermarks/windows — ordering comes from the chain
  * and disorder only from rollbacks — so these cover the rubric row the
  * driver's testdata mandates: tumbling / sliding / session windows and
  * JSON props extraction, batch-checked here against DuckDB; the streaming
  * (readStream + withWatermark) twins of the same plans live in
  * graft.streaming and are exercised by ScalaTest.
  *
  * Timestamps are emitted as formatted strings (`Conventions` note: Spark
  * truncates parquet ns → us; strings make both engines compare equal).
  */
object Events extends QueryModule {

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  /** Tumbling 1-hour window per event_type: count + exact sum. */
  private def q40(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .select(date_format(col("w.start"), fmt).as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  private val q40Sql =
    s"""SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
       |    AS window_start,
       |  event_type, COUNT(*) AS n, ${dsumSql("value", 4)} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Sliding window (1 hour, slide 30 min): each event lands in 2 windows.
    * DuckDB twin materializes both covering windows per event explicitly.
    */
  private def q41(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), fmt).as("window_start"), col("n"))
      .orderBy(col("window_start"))

  private val q41Sql =
    """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  COUNT(*) AS n
      |FROM (SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
      |                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws
      |      FROM events)
      |GROUP BY ws ORDER BY window_start""".stripMargin

  /** Session windows (5-minute gap) per user — the gaps-and-islands shape.
    * Spark's session end = last event + gap; sessions break when the gap is
    * >= the timeout ([start, end) half-open merge semantics).
    */
  private def q42(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id") < 30)
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), fmt).as("session_start"),
        date_format(col("w.end"), fmt).as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  private val q42Sql =
    """WITH o AS (
      |  SELECT user_id, ts,
      |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |      OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |         >= INTERVAL 5 MINUTE
      |    THEN 1 ELSE 0 END AS brk
      |  FROM events WHERE user_id < 30),
      |s AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o)
      |SELECT user_id,
      |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(MAX(ts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** JSON props extraction + aggregation (§2.9 to_json/from_json row). */
  private def q43(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
      .orderBy(col("event_type"))

  private val q43Sql =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Per-day per-type daily rollup — date arithmetic + exact sums. */
  private def q44(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), davg(col("value"), 4).as("avg_value"))
      .orderBy(col("day"), col("event_type"))

  private val q44Sql =
    s"""SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
       |  ${davgSql("value", 4)} AS avg_value
       |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** Ordered-funnel analytics (q45): per user, the first view, the first
    * click strictly AFTER that view, and the first purchase strictly
    * after that click — the classic sequence-detection shape, expressed
    * as three staged min-aggregations with join-backs (each stage is one
    * partial-agg shuffle on user_id; no window over the full event
    * history, so it scales as three narrow aggs at 100 TB).
    */
  private def q45(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    // v and c each feed multiple legs (the next stage AND the final
    // join) — unmaterialized, the expanded tree re-runs the events scan
    // six times per execution (the q31/q74 multi-leg discipline)
    val v = Scratch.materialize(
      ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts")),
      "q45_v")
    val c = Scratch.materialize(
      ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts")),
      "q45_c")
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    v.join(c, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select(col("user_id"),
        (lit(1) + when(col("c_ts").isNotNull, 1).otherwise(0) +
          when(col("p_ts").isNotNull, 1).otherwise(0)).as("funnel_stage"),
        date_format(col("v_ts"), fmt).as("first_view"),
        date_format(col("c_ts"), fmt).as("first_click"),
        date_format(col("p_ts"), fmt).as("first_purchase"))
      .orderBy(col("user_id"))
  }

  private val q45Sql =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS v_ts FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS c_ts FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS p_ts FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id)
      |SELECT v.user_id,
      |  1 + (CASE WHEN c.c_ts IS NOT NULL THEN 1 ELSE 0 END)
      |    + (CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END) AS funnel_stage,
      |  strftime(v.v_ts, '%Y-%m-%d %H:%M:%S') AS first_view,
      |  strftime(c.c_ts, '%Y-%m-%d %H:%M:%S') AS first_click,
      |  strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS first_purchase
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  /** As-of join (q46, §2.13's named missing join shape): for each purchase,
    * the same user's most recent view at-or-before it (the "latest quote
    * before the trade" pattern). NOT a join at all in the plan: both sides
    * union into one stream and a carry-forward window (`last(..., ignoreNulls)`
    * over rows-unbounded-preceding) propagates the newest view to each
    * purchase row — ONE shuffle on user_id, work linear in |events|, no
    * per-key candidate blowup, and at 100 TB it range-partitions like any
    * window. Tie at equal ts: the view sorts first (is_view DESC) so an
    * equal-timestamp view is visible, matching ASOF's inclusive bound;
    * equal-ts views tie-break by event_id (largest wins — last in frame).
    */
  private def q46(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_view").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"),
        when(col("event_type") === "view", 1).otherwise(0).as("is_view"))
      // both carry-forwards in ONE select so Catalyst plans a single
      // Window node (sequential withColumn interposes a Project that
      // blocks CollapseWindow → two per-partition passes)
      .select(col("*"),
        last(when(col("is_view") === 1, col("ts")), ignoreNulls = true)
          .over(w).as("v_ts"),
        last(when(col("is_view") === 1, col("value")), ignoreNulls = true)
          .over(w).as("v_value"))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        date_format(col("ts"), fmt).as("purchase_ts"),
        date_format(col("v_ts"), fmt).as("asof_view_ts"),
        round(col("v_value"), 4).as("asof_view_value"))
      .orderBy(col("purchase_id"))
  }

  private val q46Sql =
    """WITH u AS (
      |  SELECT user_id, ts, event_id, value, event_type,
      |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |w AS (
      |  SELECT *,
      |    last_value(CASE WHEN is_view = 1 THEN ts END IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts, is_view DESC, event_id
      |       ROWS UNBOUNDED PRECEDING) AS v_ts,
      |    last_value(CASE WHEN is_view = 1 THEN value END IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts, is_view DESC, event_id
      |       ROWS UNBOUNDED PRECEDING) AS v_value
      |  FROM u)
      |SELECT event_id AS purchase_id, user_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  strftime(v_ts, '%Y-%m-%d %H:%M:%S') AS asof_view_ts,
      |  round(v_value, 4) AS asof_view_value
      |FROM w WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin

  /** Salted skew join (q52) — the "salt hot keys" scale technique as a
    * first-class, oracle-checked catalog entry. An equi-join on a
    * low-cardinality key (event_type: 5 values) sends EVERY row of a
    * hot key to one reducer in a shuffle join; at 100 TB one straggler
    * partition owns the job's wall-clock. The salted form spreads each
    * key over R partitions: the fact side gets a deterministic salt
    * `pmod(hash(event_id), R)`, the dimension side is replicated ×R,
    * and the join runs on (key, salt) — so hash partitioning is over
    * R× the key space. Every fact row matches exactly one replica, so
    * the result is IDENTICAL to the unsalted join, which is what the
    * DuckDB oracle (plain join, no salt) checks. The dimension carries
    * a shuffle_hash hint: a 5-row table would otherwise broadcast,
    * which is the right plan HERE but not the scenario under test —
    * salting exists for the dim-too-big-to-broadcast regime.
    * PlanAuditSpec asserts the exchanges actually partition on the
    * salt.
    */
  /** Salt replication derived from the session (never a literal core
    * count — [[Scratch.par]]): each hot key spreads over the actual
    * reducer width, floored at 8 so the technique stays observable on
    * tiny test sessions. The result is salt-invariant (the oracle joins
    * unsalted).
    */
  private def saltR(df: DataFrame): Int = math.max(8, Scratch.par(df))

  private def q52(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val SaltR = saltR(ev)
    // deterministic dim derived from the key itself (mirrored in SQL):
    // weight = len(event_type) / 10.0
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("weight", length(col("event_type")).cast("double") / 10.0)
    val dimSalted = dim
      .withColumn("salt", explode(sequence(lit(0), lit(SaltR - 1))))
      .hint("shuffle_hash")
    val factSalted = ev
      .withColumn("salt", pmod(hash(col("event_id")), lit(SaltR)))
    factSalted.join(dimSalted, Seq("event_type", "salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        dsum(col("value") * col("weight"), 4).as("weighted_value"))
      .orderBy(col("event_type"))
  }

  private val q52Sql =
    s"""WITH dim AS (
       |  SELECT event_type, CAST(len(event_type) AS DOUBLE) / 10.0 AS weight
       |  FROM (SELECT DISTINCT event_type FROM events))
       |SELECT e.event_type, COUNT(*) AS n,
       |  ${dsumSql("e.value * d.weight", 4)} AS weighted_value
       |FROM events e JOIN dim d ON e.event_type = d.event_type
       |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  override def entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q40_tumbling_window", q40, Some(q40Sql)),
    CatalogEntry("q41_sliding_window", q41, Some(q41Sql)),
    CatalogEntry("q42_session_window", q42, Some(q42Sql)),
    CatalogEntry("q43_json_extract", q43, Some(q43Sql)),
    CatalogEntry("q44_daily_rollup", q44, Some(q44Sql)),
    CatalogEntry("q45_funnel", q45, Some(q45Sql)),
    CatalogEntry("q46_asof_join", q46, Some(q46Sql)),
    CatalogEntry("q52_salted_skew_join", q52, Some(q52Sql)),
  )
}
