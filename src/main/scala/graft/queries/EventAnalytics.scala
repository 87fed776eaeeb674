package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nexmark query semantics (SURVEY.md §2.4/§2.5) re-expressed as batch
  * DataFrame analytics over the driver's `events` table
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Mapping of the reference workload onto this table:
  *   - bids            → events rows (value = bid price, user_id = bidder)
  *   - persons/signup  → event_type = 'signup'
  *   - auctions/purchase → event_type = 'purchase'
  *   - auction windows → event-time tumbling windows over ts
  *
  * Each query is declarative DataFrame API so Catalyst gets predicate
  * pushdown / column pruning / partial aggregation for free (SURVEY §4.1).
  * All plans shuffle at most once per keyed aggregation and carry only the
  * columns they need — at 100 TB the parquet scan prunes to the 3-4 used
  * columns and windows are computed without a sort (hash agg on the
  * truncated timestamp).
  *
  * Reference semantics ported here:
  *   - Q5 hot items:  /root/reference .../NexmarkQuery5/NexmarkQuery5.java:201-251
  *   - Q4 avg winning price: NexmarkQuery5.java:402-422 (commented spec agg)
  *   - Q7 highest bid: NexmarkQueryX/NexmarkQueryX.java:417-445
  *   - Q8 new-user join: NexmarkQuery8/NexmarkQuery8.java:106-153 (cogroup spec)
  *   - Q11/Q10 sessions: NexmarkQueryX.java:765-786 (session window fn)
  *   - CM windowed sum: cm/CM.java:272-303
  */
object EventAnalytics extends QueryModule {

  private def hourMs(c: org.apache.spark.sql.Column) =
    unix_millis(date_trunc("hour", c))
  private def dayMs(c: org.apache.spark.sql.Column) =
    unix_millis(date_trunc("day", c))

  /** Nexmark Q5 (hot items): per tumbling hour window, the user(s) with the
    * most events. Two-level agg; all ties kept (deterministic).
    */
  def hotUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val perUser = ev
      .groupBy(hourMs(col("ts")).as("win_start_ms"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    // per-window max as a tiny agg (one row per hour window) broadcast back
    // — the argmax filter becomes a shuffle-free map join, instead of a
    // per-window sort-window that serializes each hot window's full user
    // set (10^7 users/window at scale) through one WindowExec task
    val maxes = perUser.groupBy(col("win_start_ms"))
      .agg(max(col("n_events")).as("max_n"))
    perUser.join(broadcast(maxes), "win_start_ms")
      .filter(col("n_events") === col("max_n"))
      .select("win_start_ms", "user_id", "n_events")
  }

  def hotUsersSql: String =
    """WITH per_user AS (
      |  SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS win_start_ms,
      |         user_id, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT win_start_ms, user_id, n_events FROM per_user
      |QUALIFY n_events = MAX(n_events) OVER (PARTITION BY win_start_ms)
      |""".stripMargin

  /** Nexmark Q4 (average winning bid per category): per event_type, the
    * average over (hour window, user) of the per-user max value.
    */
  def avgMaxValue(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("event_type"), hourMs(col("ts")).as("win_start_ms"), col("user_id"))
      .agg(max(col("value")).as("max_value"))
      .groupBy(col("event_type"))
      .agg(expr(Det.avgCents4("max_value")).as("avg_max_value"),
           count(lit(1)).as("n_groups"))
  }

  def avgMaxValueSql: String =
    s"""WITH m AS (
      |  SELECT event_type, date_trunc('hour', ts) AS w, user_id, MAX(value) AS max_value
      |  FROM events GROUP BY 1, 2, 3
      |)
      |SELECT event_type, ${Det.avgCents4("max_value")} AS avg_max_value,
      |       COUNT(*) AS n_groups
      |FROM m GROUP BY event_type
      |""".stripMargin

  /** Nexmark Q7 (highest bid per window): per tumbling day window, the max
    * value and the smallest event_id achieving it (deterministic argmax).
    */
  def highestValue(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val perDay = ev
      .groupBy(dayMs(col("ts")).as("win_start_ms"))
      .agg(max(col("value")).as("max_value"))
    // join back to recover the witness row; min(event_id) breaks value ties
    ev.select(dayMs(col("ts")).as("win_start_ms"), col("event_id"), col("value"))
      .join(perDay, Seq("win_start_ms"))
      .filter(col("value") === col("max_value"))
      .groupBy(col("win_start_ms"), col("max_value"))
      .agg(min(col("event_id")).as("event_id"))
  }

  def highestValueSql: String =
    """WITH d AS (
      |  SELECT CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS win_start_ms,
      |         event_id, value
      |  FROM events
      |), m AS (
      |  SELECT win_start_ms, MAX(value) AS max_value FROM d GROUP BY 1
      |)
      |SELECT d.win_start_ms, m.max_value, MIN(d.event_id) AS event_id
      |FROM d JOIN m ON d.win_start_ms = m.win_start_ms AND d.value = m.max_value
      |GROUP BY d.win_start_ms, m.max_value
      |""".stripMargin

  /** Nexmark Q8 (new users who act immediately): users with a signup in an
    * hour window joined to their purchases in the same window.
    * Stream-stream equi-join semantics (personId join of NexmarkQuery8
    * JoinUDF) expressed as a windowed equi-join; the signup side is
    * deduplicated per window like the reference's ValueState "latest person".
    */
  def newUserActivity(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(hourMs(col("ts")).as("win_start_ms"), col("user_id"))
      .distinct()
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(hourMs(col("ts")).as("win_start_ms"), col("user_id"), col("value"))
    signups.join(purchases, Seq("win_start_ms", "user_id"))
      .groupBy(col("win_start_ms"), col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
           expr(Det.cents("value")).as("purchase_total"))
  }

  def newUserActivitySql: String =
    s"""WITH s AS (
      |  SELECT DISTINCT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS win_start_ms, user_id
      |  FROM events WHERE event_type = 'signup'
      |), p AS (
      |  SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS win_start_ms, user_id, value
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT s.win_start_ms, s.user_id, COUNT(*) AS n_purchases,
      |       ${Det.cents("p.value")} AS purchase_total
      |FROM s JOIN p ON s.win_start_ms = p.win_start_ms AND s.user_id = p.user_id
      |GROUP BY 1, 2
      |""".stripMargin

  /** Q8 SLIDING window-type variant (the reference's window switch,
    * NexmarkQuery8.java:541-554, case 1): the same new-user join evaluated
    * over 1-hour windows sliding by 30 minutes — each event lands in TWO
    * overlapping windows, and signup/purchase must co-occur within a
    * window instance (an event pair 45 minutes apart matches in exactly
    * one of its shared windows, which tumbling misses if an hour boundary
    * splits it). Both sides pre-aggregate per (window, user) BEFORE the
    * join — the join keys carry no duplicate rows, so the join fan-out is
    * 1:1 (same shape as the tumbling entry). Spark's sliding `window()`
    * expands each row to its two windows inside the scan projection;
    * windows are epoch-aligned in both engines, so the oracle mirrors the
    * expansion with an exact integer UNION ALL of the two bucket starts.
    */
  def newUsersSliding(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("drop_n")).drop("drop_n")
      .select(unix_millis(col("win.start")).as("win_start_ms"), col("user_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
           expr(Det.cents("value")).as("purchase_total"))
      .select(unix_millis(col("win.start")).as("win_start_ms"), col("user_id"),
              col("n_purchases"), col("purchase_total"))
    purchases.join(signups, Seq("win_start_ms", "user_id"), "left_semi")
  }

  def newUsersSlidingSql: String =
    s"""WITH b AS (
      |  SELECT (epoch_ms(ts) // 1800000) * 1800000 AS b0, user_id, event_type, value
      |  FROM events WHERE event_type IN ('signup', 'purchase')
      |), u AS (
      |  SELECT b0 AS win_start_ms, user_id, event_type, value FROM b
      |  UNION ALL
      |  SELECT b0 - 1800000 AS win_start_ms, user_id, event_type, value FROM b
      |), s AS (
      |  SELECT DISTINCT win_start_ms, user_id FROM u WHERE event_type = 'signup'
      |), p AS (
      |  SELECT win_start_ms, user_id, COUNT(*) AS n_purchases,
      |         ${Det.cents("value")} AS purchase_total
      |  FROM u WHERE event_type = 'purchase' GROUP BY 1, 2
      |)
      |SELECT p.win_start_ms, p.user_id, p.n_purchases, p.purchase_total
      |FROM p JOIN s USING (win_start_ms, user_id)
      |""".stripMargin

  /** Q8 SESSION window-type variant (NexmarkQuery8.java:541-554, case 2):
    * signups and purchases build SHARED 30-minute-gap sessions per user
    * (the reference cogroups both streams into the same keyed session
    * windows — the streaming port [[graft.nexmark.queries.NexmarkQueries
    * .q8NewUsersSession]] is the same topology); only sessions containing
    * at least one signup AND one purchase emit — "a user who signed up
    * and bought within one activity burst", the J2 semantics with a
    * data-driven window. Spark merges sessions on touch (gap ≤ 30 min
    * extends), so the oracle's island break is strictly `> 30 minutes`
    * (StreamingOracleBoundarySpec's pinned boundary choice).
    */
  def newUsersSession(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("signup", "purchase"))
    ev.groupBy(session_window(col("ts"), "30 minutes").as("win"), col("user_id"))
      .agg(count(when(col("event_type") === "signup", 1)).as("n_signups"),
           count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
           expr(Det.cents("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END"))
             .as("purchase_total"))
      .filter(col("n_signups") >= 1 && col("n_purchases") >= 1)
      .select(col("user_id"),
              unix_millis(col("win.start")).as("session_start_ms"),
              col("n_signups"), col("n_purchases"), col("purchase_total"))
  }

  def newUsersSessionSql: String =
    s"""WITH e AS (
      |  SELECT user_id, ts, event_type, value FROM events
      |  WHERE event_type IN ('signup', 'purchase')
      |), o AS (
      |  SELECT user_id, ts, event_type, value,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
      |              THEN 1 ELSE 0 END AS brk
      |  FROM e
      |), s AS (
      |  SELECT user_id, ts, event_type, value,
      |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o
      |)
      |SELECT user_id, CAST(epoch_ms(MIN(ts)) AS BIGINT) AS session_start_ms,
      |       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signups,
      |       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
      |       ${Det.cents("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")} AS purchase_total
      |FROM s GROUP BY user_id, sid
      |HAVING COUNT(CASE WHEN event_type = 'signup' THEN 1 END) >= 1
      |   AND COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) >= 1
      |""".stripMargin

  /** Nexmark Q10-style sessionization (SessionWindowUdf): 30-minute-gap
    * sessions per user. Spark `session_window` semantics: an event extends
    * the session iff it starts AT or before last_ts + gap — touching
    * intervals merge (exact-gap case pinned by
    * StreamingOracleBoundarySpec; surfaced as a real oracle mismatch at
    * sf0.1, where exact-gap event pairs first occur).
    */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           unix_millis(max(col("ts"))).as("last_ts_ms"),
           expr(Det.cents("value")).as("session_value"))
      .select(col("user_id"),
              unix_millis(col("session_window.start")).as("session_start_ms"),
              col("last_ts_ms"), col("n_events"), col("session_value"))
  }

  def userSessionsSql: String =
    s"""WITH o AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events
      |), s AS (
      |  SELECT user_id, ts, value,
      |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o
      |)
      |SELECT user_id,
      |       CAST(epoch_ms(MIN(ts)) AS BIGINT) AS session_start_ms,
      |       CAST(epoch_ms(MAX(ts)) AS BIGINT) AS last_ts_ms,
      |       COUNT(*) AS n_events,
      |       ${Det.cents("value")} AS session_value
      |FROM s GROUP BY user_id, sid
      |""".stripMargin

  /** Dynamic-gap sessions (SURVEY W5; the reference imports
    * DynamicEventTimeSessionWindows — NexmarkQuery8.java:65-66): the
    * session gap depends on the event (30 min for click/view, 60 min
    * otherwise). Spark: session_window with a gap expression. Oracle:
    * a session breaks when the event starts STRICTLY AFTER the running
    * max of previous (ts + gap) ends — Spark's interval-merge rule merges
    * touching intervals too (an event AT prev_ts + gap extends the
    * session; pinned by StreamingOracleBoundarySpec's exact-gap cases).
    */
  def dynamicSessions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // gap must be CalendarIntervalType: interval *strings*, not ANSI
    // INTERVAL literals (those are DayTimeIntervalType and are rejected)
    val gap = expr(
      "CASE WHEN event_type IN ('click', 'view') THEN '30 minutes' ELSE '60 minutes' END")
    ev.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           expr(Det.cents("value")).as("session_value"))
      .select(col("user_id"),
              unix_millis(col("session_window.start")).as("session_start_ms"),
              col("n_events"), col("session_value"))
  }

  def dynamicSessionsSql: String =
    s"""WITH e AS (
      |  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS tms, value,
      |         CASE WHEN event_type IN ('click', 'view') THEN 1800000 ELSE 3600000 END AS gap_ms
      |  FROM events
      |), s AS (
      |  SELECT *, CASE WHEN MAX(tms + gap_ms) OVER (PARTITION BY user_id ORDER BY tms
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |                   OR tms > MAX(tms + gap_ms) OVER (PARTITION BY user_id ORDER BY tms
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |              THEN 1 ELSE 0 END AS brk
      |  FROM e
      |), g AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tms
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM s
      |)
      |SELECT user_id, MIN(tms) AS session_start_ms, COUNT(*) AS n_events,
      |       ${Det.cents("value")} AS session_value
      |FROM g GROUP BY user_id, sid
      |""".stripMargin

  /** CM cluster-trace aggregation (cm/CM.java:272-303): SUM(value) per
    * user per tumbling window (6h here; 2s in the reference at its rates).
    */
  def windowedLoad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(window(col("ts"), "6 hours"), col("user_id"))
      .agg(expr(Det.cents("value")).as("total_value"),
           count(lit(1)).as("n_events"))
      .select(unix_millis(col("window.start")).as("win_start_ms"),
              col("user_id"), col("total_value"), col("n_events"))
  }

  def windowedLoadSql: String =
    s"""SELECT CAST(epoch_ms(to_timestamp(FLOOR(epoch(ts) / 21600) * 21600)) AS BIGINT) AS win_start_ms,
      |       user_id, ${Det.cents("value")} AS total_value, COUNT(*) AS n_events
      |FROM events GROUP BY 1, 2
      |""".stripMargin

  /** Sliding event-time window (SURVEY §2.6 W4, commented spec wiring
    * NexmarkQuery8.java:546-548): 2-hour windows sliding by 1 hour — every
    * event lands in exactly two windows.
    */
  def slidingLoad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n_events"),
           expr(Det.cents("value")).as("total_value"))
      .select(unix_millis(col("window.start")).as("win_start_ms"),
              col("n_events"), col("total_value"))
  }

  def slidingLoadSql: String =
    s"""WITH w AS (
      |  SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS s0, value FROM events
      |), u AS (
      |  SELECT s0 AS win_start_ms, value FROM w
      |  UNION ALL
      |  SELECT s0 - 3600000 AS win_start_ms, value FROM w
      |)
      |SELECT win_start_ms, COUNT(*) AS n_events, ${Det.cents("value")} AS total_value
      |FROM u GROUP BY 1
      |""".stripMargin

  /** QX-style tagged union (NexmarkQueryX.java:301, JoinHelper taggers):
    * two typed sub-streams harmonized to one schema, unioned, re-aggregated.
    */
  def unionMix(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(dayMs(col("ts")).as("day_ms"), lit("c").as("tag"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(dayMs(col("ts")).as("day_ms"), lit("p").as("tag"), col("value"))
    clicks.unionByName(purchases)
      .groupBy(col("day_ms"), col("tag"))
      .agg(count(lit(1)).as("n"), expr(Det.cents("value")).as("total_value"))
  }

  def unionMixSql: String =
    s"""WITH u AS (
      |  SELECT CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_ms, 'c' AS tag, value
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_ms, 'p' AS tag, value
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT day_ms, tag, COUNT(*) AS n, ${Det.cents("value")} AS total_value
      |FROM u GROUP BY day_ms, tag
      |""".stripMargin

  /** Generalized top-k per group (SURVEY §2.7 sort/limit row): top 5 events
    * by value per event_type, ties broken by event_id (deterministic).
    */
  def topkPerType(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc_nulls_last, col("event_id").asc)
    ev.select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
  }

  def topkPerTypeSql: String =
    """SELECT event_type, event_id, value,
      |       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC NULLS LAST, event_id ASC) AS rk
      |FROM events
      |QUALIFY rk <= 5
      |""".stripMargin

  /** AS-OF join (trades×quotes shape; the temporal-join operator family the
    * QX winning-bid interval join belongs to, generalized): for every
    * 'purchase' event, the same user's most recent 'view' event at-or-before
    * the purchase time (LEFT semantics — purchases with no prior view keep
    * nulls).
    *
    * Spark has no ASOF JOIN; the scalable formulation is union + running
    * last_value, NOT a range join: tag views 0 / purchases 1, union, and a
    * (user_id, ts, side)-ordered running `last(…, ignoreNulls)` carries the
    * latest view forward to each probe. One shuffle on user_id, linear work
    * — a non-equi range join would be O(views × purchases) per user and a
    * backward-scan mapGroups would hold whole users in memory. Views are
    * pre-reduced per (user_id, ts) with a max_by on event_id so equal-ts
    * ties are deterministic in both engines (DuckDB ASOF leaves the pick
    * unspecified otherwise).
    */
  def asofViewPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      // the oracle wraps arg_max's arg in a 1-list: bare DuckDB arg_max
      // SKIPS rows whose arg is NULL (picking an older row's value), while
      // Spark max_by returns the matched row's value even when NULL — the
      // list is never NULL, so both engines keep the matched-row semantics
      .agg(max(col("event_id")).as("view_event_id"),
           max_by(col("value"), col("event_id")).as("view_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val tagged = views
      .select(col("user_id"), col("ts"), lit(0).as("side"),
              lit(null).cast("long").as("purchase_id"),
              col("view_event_id"), col("view_value"))
      .unionByName(purchases
        .select(col("user_id"), col("ts"), lit(1).as("side"), col("purchase_id"),
                lit(null).cast("long").as("view_event_id"),
                lit(null).cast("double").as("view_value")))
    // side orders views before probes at equal ts → inclusive (<=) semantics
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one struct through the window so event_id/value/ts all come from the
    // SAME matched view row (independent last() calls would skip a NULL
    // view_value and pull it from an older view than the matched event_id)
    tagged
      .withColumn("m", last(
        when(col("side") === 0,
             struct(col("ts"), col("view_event_id"), col("view_value"))),
        ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("purchase_id"), col("user_id"),
              unix_millis(col("ts")).as("ts_ms"),
              col("m.view_event_id").as("view_event_id"),
              col("m.view_value").as("view_value"),
              (unix_millis(col("ts")) - unix_millis(col("m.ts"))).as("gap_ms"))
  }

  def asofViewPurchaseSql: String =
    """WITH v AS (
      |  SELECT user_id, ts, MAX(event_id) AS view_event_id,
      |         arg_max([value], event_id)[1] AS view_value
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
      |), p AS (
      |  SELECT event_id AS purchase_id, user_id, ts
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.purchase_id, p.user_id,
      |       CAST(epoch_ms(p.ts) AS BIGINT) AS ts_ms,
      |       v.view_event_id, v.view_value,
      |       CAST(epoch_ms(p.ts) AS BIGINT) - CAST(epoch_ms(v.ts) AS BIGINT) AS gap_ms
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |""".stripMargin

  /** Ordered conversion funnel signup → view → purchase per user: each
    * stage's timestamp is the EARLIEST event of that type at-or-after the
    * previous stage's timestamp (the product-analytics sequence-match
    * semantics — a view before the signup does not count).
    *
    * Three conditional-min hash aggregations, each keyed on user_id, with
    * the per-user stage frontier joined back between them. The stage
    * frontier is one row per converted user (≤ |users|, tiny next to
    * events), so at 100 TB each round is one shuffle of the filtered
    * event-type slice plus a frontier join — nothing sorts, nothing holds
    * per-user event lists.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("tms"))
    val s = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("tms")).as("s_ms"))
    val v = ev.filter(col("event_type") === "view")
      .join(s, "user_id").filter(col("tms") >= col("s_ms"))
      .groupBy(col("user_id")).agg(min(col("tms")).as("v_ms"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(col("tms") >= col("v_ms"))
      .groupBy(col("user_id")).agg(min(col("tms")).as("p_ms"))
    s.join(v, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("s_ms"), col("v_ms"), col("p_ms"),
        (lit(1) + col("v_ms").isNotNull.cast("int")
               + col("p_ms").isNotNull.cast("int")).as("stage"))
  }

  def funnelSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(epoch_ms(ts) AS BIGINT) AS tms FROM events
      |), s AS (
      |  SELECT user_id, MIN(tms) AS s_ms FROM ev WHERE event_type = 'signup' GROUP BY user_id
      |), v AS (
      |  SELECT ev.user_id, MIN(tms) AS v_ms FROM ev JOIN s USING (user_id)
      |  WHERE event_type = 'view' AND tms >= s_ms GROUP BY ev.user_id
      |), p AS (
      |  SELECT ev.user_id, MIN(tms) AS p_ms FROM ev JOIN v USING (user_id)
      |  WHERE event_type = 'purchase' AND tms >= v_ms GROUP BY ev.user_id
      |)
      |SELECT s.user_id, s_ms, v_ms, p_ms,
      |       1 + CAST(v_ms IS NOT NULL AS INT) + CAST(p_ms IS NOT NULL AS INT) AS stage
      |FROM s LEFT JOIN v USING (user_id) LEFT JOIN p USING (user_id)
      |""".stripMargin

  /** Cohort retention: users grouped by first-activity day; for each
    * (cohort day, day offset) the share of the cohort active that day,
    * in exact basis points. Two hash aggregations over a distinct-day
    * projection plus a broadcast-sized cohort frontier — the daily-ingest
    * engagement report at any scale (|cohorts × offsets| rows out).
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), dayMs(col("ts")).as("day_ms"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("day_ms")).as("cohort_ms"))
    val sizes = cohort.groupBy(col("cohort_ms")).agg(count(lit(1)).as("n_cohort"))
    // (user_id, day_ms) is distinct after the distinct() and a user maps
    // to exactly one cohort, so COUNT(*) per (cohort, offset) IS the
    // distinct-user count — no second dedup agg needed
    ev.distinct()
      .join(cohort, "user_id")
      .groupBy(col("cohort_ms"),
        expr("(day_ms - cohort_ms) div 86400000").as("offset_day"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_ms")
      .select(col("cohort_ms"), col("offset_day"), col("n_active"), col("n_cohort"),
        expr("n_active * 10000 div n_cohort").as("retention_bp"))
  }

  def retentionSql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_ms FROM events
      |), cohort AS (
      |  SELECT user_id, MIN(day_ms) AS cohort_ms FROM ev GROUP BY user_id
      |), sizes AS (
      |  SELECT cohort_ms, COUNT(*) AS n_cohort FROM cohort GROUP BY cohort_ms
      |), act AS (
      |  SELECT cohort_ms, (day_ms - cohort_ms) // 86400000 AS offset_day,
      |         COUNT(*) AS n_active
      |  FROM ev JOIN cohort USING (user_id)
      |  GROUP BY 1, 2
      |)
      |SELECT cohort_ms, offset_day, n_active, n_cohort,
      |       n_active * 10000 // n_cohort AS retention_bp
      |FROM act JOIN sizes USING (cohort_ms)
      |""".stripMargin

  /** `q_skew_join`: deliberately PATHOLOGICAL hot-key join stress — the
    * q8/q11 join shape (fact ⋈ per-key profile) with ~20% of the fact
    * mass collapsed onto ONE key, beyond the reference generator's 15%
    * hot blends (`NexmarkGen` constants; reference skew at
    * NexmarkQuery8/NexmarkQuery8.java:417's keyBy). Every event whose
    * `user_id % 5 == 0` joins through key 0; the rest keep their user
    * key. The right side is the per-user purchase profile (unique per
    * key), so output mass is bounded by the fact side and the final
    * audit is one row per surviving key.
    *
    * Scale shape: at gate SFs the profile side broadcasts (no shuffle at
    * all — the correct plan at that size). One decade up the profile
    * outgrows the broadcast threshold and the join becomes a shuffle
    * join whose hot partition carries 20% of the fact side — the first
    * thing that kills a real q8-shaped join at 100× — and AQE's runtime
    * skew-join split absorbs it. One subtlety the plan pin documents
    * (ScalePlanSpec): the per-key audit agg's PARTIAL aggregate rides the
    * join's hash partitioning in the same stage, so vanilla AQE refuses
    * the split (it would break the agg's required distribution);
    * `spark.sql.adaptive.forceOptimizeSkewedJoin=true` — shipped in
    * conf/cluster.conf for exactly this agg-above-join shape — splits the
    * hot partition and pays one tiny extra exchange of pre-aggregated
    * partials (#keys rows, not the fact side). The measured
    * absorbed-vs-naive wall delta at the decade fixtures is recorded in
    * BASELINE.md §r15, via forced-shuffle AQE-on/off probe runs. All
    * aggregates are exact integers
    * ([[Det.cents]]), so the gate result is plan-independent: broadcast,
    * SMJ and skew-split SMJ hash identically.
    */
  def skewJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val left = ev.select(
      when(col("user_id") % 5 === 0, 0L).otherwise(col("user_id")).as("skew_key"),
      col("value"))
    // The profile is MATERIALIZED before the join (localCheckpoint — in
    // production it is a stored table): AQE's skew rule only matches a
    // join whose two children are Sort-over-shuffle-stage, and an
    // aggregate fused between the profile's shuffle and the join vetoes
    // the split for the WHOLE join (measured r15: no skew=true at any
    // threshold without this boundary). Materializing the bounded
    // profile (#keys rows) is what restores the absorbable shape — the
    // stage separation a real pipeline gets for free by reading the
    // profile from storage.
    val profile = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purch"),
           expr("SUM(CAST(ROUND(value * 100) AS BIGINT))").as("purch_cents"))
      .localCheckpoint(true)
    left.join(profile, left("skew_key") === profile("user_id"))
      .groupBy(col("skew_key"))
      .agg(count(lit(1)).as("n_joined"),
           expr("SUM(CAST(ROUND(value * 100) AS BIGINT))").as("fact_cents"),
           sum(col("n_purch")).as("n_purch_sum"),
           sum(col("purch_cents")).as("purch_cents_sum"))
  }

  def skewJoinSql: String =
    """WITH lf AS (
      |  SELECT CASE WHEN user_id % 5 = 0 THEN 0 ELSE user_id END AS skew_key, value
      |  FROM events
      |), pr AS (
      |  SELECT user_id, COUNT(*) AS n_purch,
      |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS purch_cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |)
      |SELECT lf.skew_key, COUNT(*) AS n_joined,
      |       CAST(SUM(CAST(ROUND(lf.value * 100) AS BIGINT)) AS BIGINT) AS fact_cents,
      |       CAST(SUM(pr.n_purch) AS BIGINT) AS n_purch_sum,
      |       CAST(SUM(pr.purch_cents) AS BIGINT) AS purch_cents_sum
      |FROM lf JOIN pr ON lf.skew_key = pr.user_id
      |GROUP BY lf.skew_key
      |""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_skew_join", skewJoin, skewJoinSql),
    Entry("q5_hot_users", hotUsers, hotUsersSql),
    Entry("q4_avg_max_value", avgMaxValue, avgMaxValueSql),
    Entry("q7_highest_value", highestValue, highestValueSql),
    Entry("q8_new_user_activity", newUserActivity, newUserActivitySql),
    Entry("q8_new_users_sliding", newUsersSliding, newUsersSlidingSql),
    Entry("q8_new_users_session", newUsersSession, newUsersSessionSql),
    Entry("q11_user_sessions", userSessions, userSessionsSql),
    Entry("q_dynamic_sessions", dynamicSessions, dynamicSessionsSql),
    Entry("qcm_windowed_load", windowedLoad, windowedLoadSql),
    Entry("q_sliding_load", slidingLoad, slidingLoadSql),
    Entry("qx_union_mix", unionMix, unionMixSql),
    Entry("q_topk_per_type", topkPerType, topkPerTypeSql),
    Entry("q_asof_join", asofViewPurchase, asofViewPurchaseSql),
    Entry("q_funnel", funnel, funnelSql),
    Entry("q_retention", retention, retentionSql),
  )
}
