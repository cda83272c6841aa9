package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables
import graft.functions.Parity._

/** Time-series / event-log analytics over the `events` table.
  *
  * Batch-mode counterparts of the Structured Streaming operators in
  * [[graft.streaming.EventStreams]] — same windowing and sessionization
  * semantics, expressed over the static table so the DuckDB oracle can
  * check them. At 100 TB the `events` table would be date-partitioned;
  * every query here groups or windows by `user_id` (or truncated time),
  * which shuffles once on a high-cardinality key and stays balanced.
  */
object Events {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- q20
  /** Hourly tumbling-window counts per event type. */
  private def q20(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  private val q20Sql =
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
       |  count(*) AS n_events,
       |  ${d2dSql("sum(CAST(value AS DECIMAL(18,4)))")} AS sum_value
       |FROM events
       |GROUP BY date_trunc('hour', ts), event_type
       |ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------------- q21
  /** Per-user activity pivot: one conditional-count column per type. */
  private def q21(spark: SparkSession, dir: String): DataFrame = {
    def cnt(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L))
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        cnt("click").as("n_click"),
        cnt("view").as("n_view"),
        cnt("purchase").as("n_purchase"),
        cnt("signup").as("n_signup"),
        cnt("error").as("n_error"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"))
  }

  private val q21Sql = {
    def cnt(t: String) =
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT)"
    s"""SELECT user_id,
       |  ${cnt("click")} AS n_click,
       |  ${cnt("view")} AS n_view,
       |  ${cnt("purchase")} AS n_purchase,
       |  ${cnt("signup")} AS n_signup,
       |  ${cnt("error")} AS n_error,
       |  ${d2dSql("sum(CAST(value AS DECIMAL(18,4)))")} AS sum_value
       |FROM events
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- q22
  /** Inter-event gap stats per user (lag window). Gap is in whole
    * seconds (epoch-floor difference — matches DuckDB `date_diff`). */
  private def q22(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_s", col("ts").cast(LongType) - col("prev_ts").cast(LongType))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("total_gap_s"),
        max(col("gap_s")).as("max_gap_s"),
        (sum(col("gap_s")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
          .as("avg_gap_s"))
      .orderBy(col("user_id"))
  }

  private val q22Sql =
    """SELECT user_id,
      |  count(*) AS n_gaps,
      |  CAST(sum(gap_s) AS BIGINT) AS total_gap_s,
      |  max(gap_s) AS max_gap_s,
      |  CAST(sum(gap_s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_gap_s
      |FROM (
      |  SELECT user_id,
      |    date_diff('second',
      |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
      |  FROM events)
      |WHERE gap_s IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Event dedup: keep the first event per (user, type) — "first
    * occurrence wins". One hash-aggregable `graft_argmin` pass
    * ([[graft.functions.ArgMax]]): the ordering key `struct(ts,
    * event_id)` is unique per group (event ids are unique), so the
    * winner is deterministic and identical to the oracle's
    * `row_number() = 1` form. vs the window: no per-group sort, and the
    * map side reduces each group to ONE buffer before the shuffle —
    * at a 100 TB event log the shuffle carries |users × types| buffers
    * instead of every event row. */
  private def q23(spark: SparkSession, dir: String): DataFrame = {
    // call_function resolves through the session registry — guard for
    // sessions not built via GraftSession (the q59/scaledEmb pattern).
    graft.plans.GraftExtensions.register(spark)
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(graft.functions.ArgMaxAgg.argMin(
        struct(col("ts"), col("event_id")),
        struct(col("event_id"), col("ts"))).as("b"))
      .select(col("user_id"), col("event_type"),
        col("b.event_id").as("event_id"), col("b.ts").as("ts"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val q23Sql =
    """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts FROM (
      |  SELECT user_id, event_type, event_id, ts,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q24
  /** JSON property extraction + bucket aggregation. */
  private def q24(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
      .withColumn("k_bucket", col("k") % 10L)
      .groupBy(col("k_bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("k_bucket"))
  }

  private val q24Sql =
    s"""SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS k_bucket,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       |  ${d2dSql("sum(CAST(value AS DECIMAL(18,4)))")} AS sum_value
       |FROM events
       |GROUP BY 1
       |ORDER BY k_bucket""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Batch sessionization: a new session starts after a >30 min gap.
    * Session ids come from a cumulative sum over the gap indicator —
    * the classic shuffle-once sessionization that scales to any number
    * of users (partition by user, never a global sort). */
  private def q25(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("gap_s",
        col("ts").cast(LongType) - lag(col("ts"), 1).over(byUser).cast(LongType))
      .withColumn("is_new",
        when(col("gap_s").isNull || col("gap_s") > 1800L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        dsum(col("value")).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val q25Sql =
    s"""WITH gaps AS (
       |  SELECT user_id, event_id, ts, value,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
       |  FROM events),
       |flagged AS (
       |  SELECT user_id, event_id, ts, value,
       |    CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END AS is_new
       |  FROM gaps),
       |sess AS (
       |  SELECT user_id, ts, value,
       |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id,
       |  count(*) AS n_events,
       |  CAST(min(ts) AS TIMESTAMP) AS session_start,
       |  CAST(max(ts) AS TIMESTAMP) AS session_end,
       |  ${d2dSql("sum(CAST(value AS DECIMAL(18,4)))")} AS session_value
       |FROM sess
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- q52
  /** As-of join: each purchase matched to the user's most recent click
    * at-or-before it — the operator Spark lacks natively (SURVEY.md §2
    * lists zero joins in the reference; the builder mandate names as-of
    * joins as a compose-first target).
    *
    * Composition: union both sides, one per-user window pass carrying
    * `last(click_ts)` forward (clicks sort before purchases at equal
    * timestamps to honor the `<=` as-of bound), then keep purchases.
    * ONE shuffle on `user_id` — the same cost as sessionization, versus
    * the naive inequality-join's quadratic blowup. Only the matched
    * click *timestamp* is emitted, so equal-ts click ties cannot make
    * the result nondeterministic. The DuckDB oracle uses its native
    * ASOF JOIN — two independent formulations, one answer. */
  private def q52(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast(LongType).as("event_id"),
        lit(null).cast("double").as("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        col("event_id"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click_ts",
        last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .filter(col("last_click_ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts").as("purchase_ts"),
        col("last_click_ts"), col("value"),
        (col("ts").cast(LongType) - col("last_click_ts").cast(LongType))
          .as("click_to_buy_s"))
      .orderBy(col("user_id"), col("purchase_ts"), col("event_id"))
  }

  private val q52Sql =
    """SELECT p.user_id, p.event_id,
      |  CAST(p.ts AS TIMESTAMP) AS purchase_ts,
      |  CAST(c.ts AS TIMESTAMP) AS last_click_ts,
      |  p.value,
      |  date_diff('second', c.ts, p.ts) AS click_to_buy_s
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.user_id, purchase_ts, p.event_id""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Range (band) join: click–purchase pairs of the same user within a
    * ±10-minute window. A naive `|Δt| ≤ w` inequality join is quadratic;
    * here each side is bucketed into w-wide time bins and clicks are
    * replicated into the adjacent bins (explode of 3 bin ids), so the
    * equi-join on (user, bin) sees every qualifying pair exactly once
    * after the exact band filter — the standard banded range-join
    * blocking, one shuffle on a composite key. */
  val RangeJoinWindowS = 600L

  private def q53(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts").cast(LongType).as("p_ts"))
      .withColumn("bin", (col("p_ts") / RangeJoinWindowS).cast(LongType))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
        col("ts").cast(LongType).as("c_ts"))
      .withColumn("bin0", (col("c_ts") / RangeJoinWindowS).cast(LongType))
      .withColumn("bin", explode(array(col("bin0") - 1, col("bin0"),
        col("bin0") + 1)))
      .drop("bin0")
    purchases.join(clicks,
        col("user_id") === col("c_user") && purchases("bin") === clicks("bin"))
      .filter(abs(col("p_ts") - col("c_ts")) <= RangeJoinWindowS)
      .select(col("user_id"), col("p_id"), col("c_id"),
        (col("p_ts") - col("c_ts")).as("dt_s"))
      .orderBy(col("user_id"), col("p_id"), col("c_id"))
  }

  private val q53Sql =
    s"""SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id,
       |  date_diff('second', c.ts, p.ts) AS dt_s
       |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       |JOIN (SELECT * FROM events WHERE event_type = 'click') c
       |  ON p.user_id = c.user_id
       | AND abs(date_diff('second', c.ts, p.ts)) <= $RangeJoinWindowS
       |ORDER BY p.user_id, p_id, c_id""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Funnel attribution per day: click events followed by a same-user
    * purchase within 10 minutes — the batch (oracled) twin of the
    * streaming [[graft.streaming.EventStreams.followWithin]] interval
    * join. One equi-join shuffle on `user_id` with the time window as a
    * post-join filter; per-user event counts bound the pair blowup, and
    * a viral hot user is AQE skew-join territory. The day report rolls
    * up through an exact (day, click)→(day, user)→day aggregate LADDER
    * instead of `count(DISTINCT click), count(DISTINCT user)` — the
    * multi-distinct form Expands (replicates) every PAIR row ×3 before
    * its first aggregate (the q233 census class); the ladder collapses
    * pairs to clicks-scale in one partial-aggregable pass and each
    * later stage only shrinks. */
  private def q63(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val a = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("ts").as("a_ts"),
        col("user_id").as("a_user"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("ts").as("b_ts"), col("user_id").as("b_user"))
    a.join(b,
        col("a_user") === col("b_user") &&
          col("b_ts") > col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"))
      // day is functionally dependent on a_id (one click, one ts), so
      // grouping by (day, a_id, a_user) = per-click pair counts.
      .groupBy(date_trunc("day", col("a_ts")).as("day"),
        col("a_id"), col("a_user"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("day"), col("a_user"))
      .agg(sum(col("n")).as("n"), count(lit(1)).as("clicks"))
      .groupBy(col("day"))
      .agg(sum(col("n")).as("n_pairs"),
        sum(col("clicks")).as("n_converting_clicks"),
        count(lit(1)).as("n_users"))
      .orderBy(col("day"))
  }

  private val q63Sql =
    s"""SELECT CAST(date_trunc('day', a.ts) AS TIMESTAMP) AS day,
       |  count(*) AS n_pairs,
       |  count(DISTINCT a.event_id) AS n_converting_clicks,
       |  count(DISTINCT a.user_id) AS n_users
       |FROM (SELECT * FROM events WHERE event_type = 'click') a
       |JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
       |  ON a.user_id = b.user_id
       | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
       |GROUP BY 1
       |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Retention cohort matrix: users bucketed by first-seen day, then
    * distinct active users per (cohort day, day offset) — THE engagement
    * report over any event log. Two shuffles on `user_id` (first-seen
    * min, distinct activity) + one on the small (cohort, offset) key. */
  private def q64(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val firstDay = ev.groupBy(col("user_id"))
      .agg(min(date_trunc("day", col("ts"))).as("cohort_day"))
    val active = ev.select(col("user_id"),
      date_trunc("day", col("ts")).as("act_day")).distinct()
    active.join(firstDay, "user_id")
      .withColumn("day_offset", datediff(col("act_day"), col("cohort_day")))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  private val q64Sql =
    s"""WITH fe AS (
       |  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
       |  FROM events GROUP BY 1),
       |act AS (
       |  SELECT DISTINCT user_id, date_trunc('day', ts) AS act_day
       |  FROM events)
       |SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
       |  CAST(date_diff('day', cohort_day, act_day) AS INTEGER) AS day_offset,
       |  count(DISTINCT user_id) AS n_users
       |FROM act JOIN fe USING (user_id)
       |GROUP BY 1, 2
       |ORDER BY cohort_day, day_offset""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Event-rate anomaly flags: per (event_type, hour) counts compared to
    * that type's all-hours mean; hours at ≥2× the mean are flagged — the
    * pipeline-health monitor run over every ingest log. The per-type
    * mean is a 5-row aggregate broadcast back; the ratio is one double
    * division of exact int64 counts, deterministic in both engines. */
  private def q65(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val typeAvg = hourly.groupBy(col("event_type").as("t2"))
      .agg(sum(col("n")).as("total_n"), count(lit(1)).as("n_hours"))
    hourly.join(broadcast(typeAvg), col("event_type") === col("t2"))
      .withColumn("rate_ratio",
        col("n").cast(DoubleType) * col("n_hours").cast(DoubleType) /
          col("total_n").cast(DoubleType))
      .filter(col("rate_ratio") >= 2.0)
      .select(col("event_type"), col("hour"), col("n"), col("rate_ratio"))
      .orderBy(col("event_type"), col("hour"))
  }

  private val q65Sql =
    s"""WITH hourly AS (
       |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       |    count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |ta AS (
       |  SELECT event_type AS t2, CAST(sum(n) AS BIGINT) AS total_n,
       |    count(*) AS n_hours
       |  FROM hourly GROUP BY 1)
       |SELECT event_type, hour, n,
       |  CAST(n AS DOUBLE) * CAST(n_hours AS DOUBLE) / CAST(total_n AS DOUBLE)
       |    AS rate_ratio
       |FROM hourly JOIN ta ON event_type = t2
       |WHERE CAST(n AS DOUBLE) * CAST(n_hours AS DOUBLE) / CAST(total_n AS DOUBLE) >= 2.0
       |ORDER BY event_type, hour""".stripMargin

  // ----------------------------------------------------------------

  // ---------------------------------------------------------------- q93
  /** HOUR-OVER-HOUR TRENDING — per hour, rank event types by volume and
    * report each type's rank movement vs the previous hour (the
    * "what's suddenly hot" monitor a data-ingest dashboard shows; on a
    * crawl stream the same query over source domains spots a feed
    * going viral or dying). Deterministic ranking: `row_number` with
    * the type name as tie-break, never `rank` (peer ties would make
    * the movement column ambiguous across engines).
    *
    * Scale posture: rides q20's partial-aggregable hourly aggregate;
    * both windows run over the AGGREGATED (hour × type) frame — tiny at
    * any corpus scale, so the sorts they imply never see raw events. */
  private def q93(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val byHour = Window.partitionBy(col("hour"))
      .orderBy(col("n_events").desc, col("event_type"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    hourly
      .withColumn("rnk", row_number().over(byHour).cast(LongType))
      .withColumn("prev_rnk", lag(col("rnk"), 1).over(byType))
      .withColumn("moved", (col("prev_rnk") - col("rnk")).cast(LongType))
      .orderBy(col("hour"), col("rnk"))
  }

  private val q93Sql =
    s"""WITH hourly AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       |    event_type, count(*) AS n_events
       |  FROM events
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT hour, event_type, n_events,
       |    CAST(row_number() OVER (PARTITION BY hour
       |      ORDER BY n_events DESC, event_type) AS BIGINT) AS rnk
       |  FROM hourly)
       |SELECT hour, event_type, n_events, rnk,
       |  lag(rnk, 1) OVER (PARTITION BY event_type ORDER BY hour) AS prev_rnk,
       |  CAST(lag(rnk, 1) OVER (PARTITION BY event_type ORDER BY hour) - rnk
       |    AS BIGINT) AS moved
       |FROM ranked
       |ORDER BY hour, rnk""".stripMargin

  // ---------------------------------------------------------------- q145
  /** SCD2 CHANGE-INTERVAL COMPRESSION — the slowly-changing-dimension
    * versioning (Kimball Type 2) the event log's downstream dimension
    * tables need: per user, consecutive runs of the same event_type
    * compress to one VERSIONED VALIDITY INTERVAL — valid_from at the
    * run's first event, valid_to at the next change (NULL = current
    * version, the open interval). This is the change-data-capture
    * "compact the log into as-of state history" op: joins against it
    * answer "what was the user's state at time T" with one interval
    * lookup instead of a scan-back through the raw log (the q52 as-of
    * join's natural dimension side).
    *
    * Determinism: change detection and versioning both order by
    * (ts, event_id) — the log's unique total order; timestamps emit as
    * exact epoch-microsecond int64 in both engines.
    *
    * Scale posture: the classic shuffle-once window chain (q25's
    * sessionization posture): everything partitions by user_id — one
    * hash shuffle, per-user sorted windows for lag/row_number/lead,
    * never a global sort; output is change-points-sized (the
    * compressed log), strictly smaller than the input. */
  /** q145's interval table, unordered — shared by the report and the
    * q147 temporal attribution join (ONE definition: the dimension the
    * attribution reads IS the dimension the report describes).
    * Memoized per (session, dir) since r17: each consumer re-ran the
    * per-user lag/row_number/lead window stack over the event log; at
    * warehouse scale the SCD2 dimension is a materialized table every
    * fact query joins, not a per-query rebuild — the [[sessionized]]
    * posture applied to the dimension. */
  private def scd2Intervals(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "scd2Intervals") {
      scd2IntervalsOf(Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type")))
    }

  private def q145(spark: SparkSession, dir: String): DataFrame =
    // INLINE build (r17 verdict item 5): q145 is the one consumer that
    // emits the whole dimension — the window chain fuses straight into
    // its report sort, and the driver measured the InMemoryRelation
    // read form 1.25× slower (0.278→0.348 s). q147/q148 keep reading
    // the shared [[scd2Intervals]] cache for their joins; the rows are
    // identical by construction (same scd2IntervalsOf).
    scd2IntervalsOf(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type")))
      .orderBy(col("user_id"), col("version_no"))

  /** SQL twin of [[scd2Intervals]]: CTE chain ending in `ivals`. */
  private val scd2SqlCtes =
    s"""ordered AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS prev
       |  FROM events),
       |changes AS (
       |  SELECT user_id, event_id, event_type, ts_us FROM ordered
       |  WHERE prev IS NULL OR prev <> event_type),
       |ivals AS (
       |  SELECT user_id,
       |    CAST(row_number() OVER w AS BIGINT) AS version_no,
       |    event_type,
       |    ts_us AS valid_from_us,
       |    lead(ts_us) OVER w AS valid_to_us,
       |    (lead(ts_us) OVER w IS NULL) AS is_current
       |  FROM changes
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))""".stripMargin

  private val q145Sql =
    s"""WITH $scd2SqlCtes
       |SELECT user_id, version_no, event_type, valid_from_us,
       |  valid_to_us, is_current
       |FROM ivals
       |ORDER BY user_id, version_no""".stripMargin

  // ---------------------------------------------------------------- q148
  /** INCREMENTAL SCD2 MERGE — q145's dimension maintained the way a
    * warehouse actually maintains it: yesterday's interval table is a
    * STORED ARTIFACT, and today's delta merges into it WITHOUT
    * re-reading the historical event log. Users absent from the delta
    * keep their stored intervals untouched; each delta user's stored
    * OPEN interval seeds the change detection (its state is the
    * boundary `prev`, its version number the offset), the delta's
    * change points extend the chain, and the open interval closes at
    * the first post-boundary change. The contract is the q69/q72
    * incremental-dedup statement transplanted to dimensions:
    * **merge(history artifact, delta) ≡ full rebuild over everything**
    * — q148 shares q145's oracle verbatim, so the equivalence is
    * hash-checked at every SF, and the spec additionally pins that the
    * history leg is touched only through the artifact (delta-user
    * rows), never the historical events.
    *
    * The cutoff stands in for the artifact boundary (min + 4/5 of the
    * observed span — any split must produce the same merged table, and
    * the oracle equality proves exactly that).
    *
    * Scale posture: the merge's working set is delta-users-sized — the
    * stored table contributes one open row per delta user (semi join)
    * plus pass-through rows (anti join, no rewrite); the window chain
    * runs over delta events only. At 100 TB of history and a daily
    * delta, the rebuild cost is the day's, not the decade's. */
  private def q148(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val bounds = ev.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
      .select((col("lo") + (col("hi") - col("lo")) * 4L / 5L).as("cut"))
    val cut = broadcast(bounds)
    // Two passes over the events scan (hist + delta) — FIXTURE-ONLY
    // cost: the split exists to fabricate the artifact boundary inside
    // one query so the oracle can hash it. In production `stored` is a
    // parquet READ of yesterday's dimension table and `delta` the only
    // events scan, so nothing is read twice.
    val hist = ev.crossJoin(cut).filter(col("ts_us") < col("cut")).drop("cut")
    val delta = ev.crossJoin(cut).filter(col("ts_us") >= col("cut")).drop("cut")

    // The stored artifact (built here from history; in production read
    // from the dimension table's parquet). MATERIALIZED in the session
    // registry (r18): keep and seed each consumed the hist window-chain
    // subtree — two executions of the decade-side scan+window per run,
    // exactly what the production posture (a parquet READ of a stored
    // table) never pays. The cache is the fixture's stand-in for that
    // stored parquet.
    val stored = Features.cachedFrame(spark, dir, "q148Stored") {
      scd2IntervalsOf(hist)
    }
    val deltaUsers = delta.select(col("user_id")).distinct()

    // ONE left join routes the stored table (r17; the anti/semi pair
    // consumed the stored window-chain subtree three times): users the
    // delta never mentions pass through (null flag, all rows), a delta
    // user's CLOSED rows pass through unchanged, and the open interval
    // becomes the seed. Row-identical to the anti ∪ (semi ∧ closed)
    // form by case analysis on (flag, is_current).
    val flagged = stored.join(deltaUsers.withColumn("d_hit", lit(1)),
      Seq("user_id"), "left")
    val keep = flagged.filter(col("d_hit").isNull || !col("is_current"))
      .drop("d_hit")
    // Seed: each delta user's open interval (absent for brand-new users).
    val seed = flagged.filter(col("d_hit") === 1 && col("is_current"))

    // Change detection over (seed ∥ delta): the seed is a pseudo-event
    // carrying the boundary state; event_id -1 orders it first at its
    // timestamp (real ids are non-negative). The version offset rides
    // the seed row itself (null on delta rows) and broadcasts to the
    // user's chain through a window max over the SAME user partitioning
    // the lag/lead windows already established — the former
    // offsets-frame broadcast join re-derived the seed a second time.
    //
    // ORDERING INVARIANT (r17 ADVICE): the offset-riding form requires
    // the seed to sort strictly first per user, i.e. every delta event
    // has ts_us > the open interval's valid_from_us. Here that holds BY
    // CONSTRUCTION: delta is the ts_us >= cut split and the open
    // interval started before cut. A production merge fed LATE deltas
    // (ts at or before the boundary state's start) must pre-filter them
    // or fall back to the offsets-frame join, else the seed can become
    // a non-change row and the user's versions restart at 1.
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val wUser = Window.partitionBy(col("user_id"))
    val merged = seed
      .select(col("user_id"), lit(-1L).as("event_id"),
        col("valid_from_us").as("ts_us"), col("event_type"),
        (col("version_no") - 1L).as("v_off"))
      .unionByName(delta.select(col("user_id"), col("event_id"),
        col("ts_us"), col("event_type"),
        lit(null).cast("long").as("v_off")))
    val changes = merged
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("chain_no", row_number().over(byUser).cast("long"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(byUser))
      // The seed is always a change row (first per user by the -1
      // event_id, prev null), so the post-filter max still sees it.
      .withColumn("v_off_u", max(col("v_off")).over(wUser))
    val rebuilt = changes
      .select(col("user_id"),
        (col("chain_no") + coalesce(col("v_off_u"), lit(0L)))
          .as("version_no"),
        col("event_type"), col("ts_us").as("valid_from_us"),
        col("valid_to_us"), col("valid_to_us").isNull.as("is_current"))

    keep.unionByName(rebuilt)
      .orderBy(col("user_id"), col("version_no"))
  }

  /** [[scd2Intervals]] over an arbitrary pre-projected event frame
    * (user_id, event_id, ts, event_type, ...). */
  private def scd2IntervalsOf(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("version_no", row_number().over(byUser).cast("long"))
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us", lead(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col("user_id"), col("version_no"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
  }

  // ---------------------------------------------------------------- q147
  /** STATE-AT-EVENT ATTRIBUTION — the query q145's dimension exists to
    * answer: for every purchase, WHAT STATE WAS THE USER IN when it
    * happened, counted by state. The interval lookup replaces the
    * scan-back through the raw log ("the user's latest prior event")
    * with one equi-keyed containment join against the compressed
    * dimension — the standard fact-to-SCD2 temporal join. Attribution
    * is to the state active strictly BEFORE the event (a purchase that
    * starts its own 'purchase' run attributes to the state it
    * interrupted — the conversion-context reading; a user whose very
    * first event is the purchase lands in 'none'). The abutting
    * intervals make the match provably unique: `from < ts ≤ to` admits
    * exactly one interval per (user, ts).
    *
    * Scale posture: the join is user_id-keyed (equi) with the
    * containment as a post-join filter — per-user fan-out is the
    * user's version count (bounded by their change count), never a
    * cross of the log; both sides partition by the same key, and the
    * report is one ≤ |event types|+1-cell partial-aggregable groupBy. */
  private def q147(spark: SparkSession, dir: String): DataFrame = {
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val ivals = scd2Intervals(spark, dir)
      .select(col("user_id"), col("event_type").as("state"),
        col("valid_from_us"), col("valid_to_us"))
    purchases
      .join(ivals,
        col("p_user") === col("user_id") &&
          col("valid_from_us") < col("ts_us") &&
          (col("valid_to_us").isNull || col("ts_us") <= col("valid_to_us")),
        "left")
      .select(col("event_id"), coalesce(col("state"), lit("none")).as("state"),
        col("p_user"))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("p_user")).as("n_users"))
      .orderBy(col("state"))
  }

  private val q147Sql =
    s"""WITH $scd2SqlCtes,
       |purchases AS (
       |  SELECT user_id AS p_user, event_id, epoch_us(ts) AS ts_us
       |  FROM events WHERE event_type = 'purchase'),
       |attributed AS (
       |  SELECT p.event_id, p.p_user,
       |    COALESCE(i.event_type, 'none') AS state
       |  FROM purchases p
       |  LEFT JOIN ivals i
       |    ON p.p_user = i.user_id
       |    AND i.valid_from_us < p.ts_us
       |    AND (i.valid_to_us IS NULL OR p.ts_us <= i.valid_to_us))
       |SELECT state, count(*) AS n_purchases,
       |  CAST(count(DISTINCT p_user) AS BIGINT) AS n_users
       |FROM attributed
       |GROUP BY state
       |ORDER BY state""".stripMargin

  // --------------------------------------------------------------- q149
  /** Frequent event-type pair co-occurrence — market-basket support
    * counting at itemset size 2 (the A-priori k=2 step) expressed
    * relationally, with each side's standalone reach attached so
    * downstream can derive confidence/lift without a second scan.
    *
    * Per user the DISTINCT event types form a tiny itemset (the type
    * vocabulary is a handful of values), so the ordered self-join on
    * `user_id` fans out to at most C(|types|,2) rows per user and
    * immediately collapses onto a ≤C(|types|,2)-row pair key space.
    *
    * Scale posture: one partial-aggregable distinct on (user_id, type)
    * — the only shuffle touching event volume, keyed by the
    * high-cardinality uniform `user_id`; the pair self-join joins that
    * slim frame to itself on `user_id` with bounded ≤|types| per-key
    * fanout (never quadratic in users or events); the per-type totals
    * frame is ≤|types| rows and broadcasts onto the ≤C(|types|,2)-row
    * co-occurrence table. Output size is independent of corpus size. */
  private def q149(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val co = ut.toDF("user_id", "ta")
      .join(ut.toDF("user_id", "tb"), Seq("user_id"))
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_co"))
    val tot = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    co.join(broadcast(tot.select(col("event_type").as("ta"),
        col("n").as("n_a"))), "ta")
      .join(broadcast(tot.select(col("event_type").as("tb"),
        col("n").as("n_b"))), "tb")
      .select(col("ta"), col("tb"), col("n_co"), col("n_a"), col("n_b"))
      .orderBy(col("n_co").desc, col("ta"), col("tb"))
  }

  private val q149Sql =
    s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
       |co AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_co
       |  FROM ut a JOIN ut b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2),
       |tot AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1)
       |SELECT co.ta, co.tb, co.n_co, x.n AS n_a, y.n AS n_b
       |FROM co
       |JOIN tot x ON co.ta = x.event_type
       |JOIN tot y ON co.tb = y.event_type
       |ORDER BY n_co DESC, ta, tb""".stripMargin

  // --------------------------------------------------------------- q150
  /** RFM (recency / frequency / monetary) quartile segmentation over
    * purchase events — the classic account-base cube; for a data shop
    * it is the per-account usage segmentation that sets sampling or
    * retention weights.
    *
    * Per purchasing user: last purchase time (recency, epoch-µs),
    * purchase count (frequency), exact-decimal spend (monetary). Each
    * metric is quartiled with NTILE(4) under a TOTAL order (metric
    * desc, then `user_id`) so tie placement is deterministic and
    * engine-portable; the 4×4×4 segment cube is then counted with an
    * exact-decimal spend sum per cell. Spend stays DECIMAL through the
    * window so the ordering itself is exact in both engines.
    *
    * Scale posture: one shuffle on `user_id` for the per-user rollup;
    * output is ≤64 rows regardless of volume. The three NTILE windows
    * are global sorts, kept EXACT by default because the oracle pins
    * per-cell membership; under `spark.graft.quantiles.mode=approx`
    * ([[Features.QuantileModeConf]], the same switch q106/q109 honor)
    * the windows are replaced by one `percentile_approx` aggregate per
    * metric whose three thresholds broadcast back — no global sort,
    * bounded memory at any user count (boundary ties then land in the
    * lower quartile, the documented jitter `QuantileModeSpec` grades). */
  private def q150(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(unix_micros(max(col("ts"))).as("last_us"),
        count(lit(1)).as("n_purch"),
        sum(dec(col("value"))).as("spend"))
    val quartiled =
      if (!Features.approxQuantiles(spark)) {
        def q(c: String) = ntile(4)
          .over(Window.orderBy(col(c).desc, col("user_id"))).cast("long")
        per.withColumn("r_q", q("last_us"))
          .withColumn("f_q", q("n_purch"))
          .withColumn("m_q", q("spend"))
      } else {
        // The documented 100 TB swap: four approx thresholds per metric
        // in ONE aggregate row, broadcast back — no single-partition
        // global window. Descending quartiles ⇒ bucket 1 is the top.
        val thr = per.agg(
          percentile_approx(col("last_us"), array(lit(0.25), lit(0.5),
            lit(0.75)), lit(10000)).as("rt"),
          percentile_approx(col("n_purch"), array(lit(0.25), lit(0.5),
            lit(0.75)), lit(10000)).as("ft"),
          percentile_approx(col("spend").cast(DoubleType),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("mt"))
        // Thresholds are ascending (p25,p50,p75): above p75 ⇒ top
        // quartile 1, between p50 and p75 ⇒ 2, etc.
        per.crossJoin(broadcast(thr))
          .withColumn("r_q",
            when(col("last_us") > element_at(col("rt"), 3), 1L)
              .when(col("last_us") > element_at(col("rt"), 2), 2L)
              .when(col("last_us") > element_at(col("rt"), 1), 3L)
              .otherwise(4L))
          .withColumn("f_q",
            when(col("n_purch") > element_at(col("ft"), 3), 1L)
              .when(col("n_purch") > element_at(col("ft"), 2), 2L)
              .when(col("n_purch") > element_at(col("ft"), 1), 3L)
              .otherwise(4L))
          .withColumn("m_q",
            when(col("spend").cast(DoubleType) > element_at(col("mt"), 3), 1L)
              .when(col("spend").cast(DoubleType) > element_at(col("mt"), 2), 2L)
              .when(col("spend").cast(DoubleType) > element_at(col("mt"), 1), 3L)
              .otherwise(4L))
          .drop("rt", "ft", "mt")
      }
    quartiled
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"),
        decToDouble(sum(col("spend"))).as("sum_spend"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  private val q150Sql =
    s"""WITH per AS (
       |  SELECT user_id,
       |    max(epoch_us(ts)) AS last_us,
       |    count(*) AS n_purch,
       |    sum(CAST(value AS DECIMAL(18,4))) AS spend
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY user_id),
       |q AS (
       |  SELECT spend,
       |    NTILE(4) OVER (ORDER BY last_us DESC, user_id) AS r_q,
       |    NTILE(4) OVER (ORDER BY n_purch DESC, user_id) AS f_q,
       |    NTILE(4) OVER (ORDER BY spend DESC, user_id) AS m_q
       |  FROM per)
       |SELECT r_q, f_q, m_q, count(*) AS n_users,
       |  ${d2dSql("sum(spend)")} AS sum_spend
       |FROM q
       |GROUP BY 1, 2, 3
       |ORDER BY r_q, f_q, m_q""".stripMargin

  // --------------------------------------------------------------- q152
  /** Robust per-type value outliers via median absolute deviation —
    * the value-domain complement of q65's rate anomaly: a mean/stddev
    * z-score is itself dragged by the outliers it hunts (one 10⁶×
    * fat-finger event shifts the mean), while median/MAD have a 50%
    * breakdown point. Flag = deviation > 3×MAD, the standard robust
    * cut.
    *
    * Determinism: values are floored to milli-units (v_u) before any
    * comparison; medians use exact interpolated `percentile` floored
    * to milli/micro-units — q61's engine-parity recipe (Spark
    * `percentile` and DuckDB `quantile_cont` interpolate identically,
    * and the single double multiply-then-floor is the same IEEE op in
    * both). The outlier test compares pure int64s
    * (dev_u·1000 > 3·mad_mu), so no boundary row can flip engines.
    *
    * Scale posture: two broadcast joins (per-type medians/MADs are
    * |types| rows) around three partial-aggregable passes; the exact
    * per-type percentile buffers a type's values on one task — q61's
    * documented trade, kept because the oracle pins interpolated
    * medians; at 100 TB swap `percentile_approx` (t-digest, bounded
    * memory) exactly as q61/q62 document. */
  private def q152(spark: SparkSession, dir: String): DataFrame = {
    val vu = Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        floor(col("value") * 1000.0).cast(LongType).as("v_u"))
    val med = vu.groupBy(col("event_type"))
      .agg(floor(expr("percentile(value, 0.5)") * 1000.0)
        .cast(LongType).as("med_u"))
    val dev = vu.join(broadcast(med), "event_type")
      .withColumn("dev_u", abs(col("v_u") - col("med_u")))
    val mad = dev.groupBy(col("event_type"))
      .agg(floor(expr("percentile(dev_u, 0.5)") * 1000.0)
        .cast(LongType).as("mad_mu"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("med_u")).as("med_u"),
        min(col("mad_mu")).as("mad_mu"),
        sum(when(col("dev_u") * 1000L > lit(3L) * col("mad_mu"), 1L)
          .otherwise(0L)).as("n_outliers"),
        max(col("dev_u")).as("max_dev_u"))
      .orderBy(col("event_type"))
  }

  private val q152Sql =
    s"""WITH vu AS (
       |  SELECT event_type, value,
       |    CAST(floor(value * 1000.0) AS BIGINT) AS v_u
       |  FROM events),
       |med AS (
       |  SELECT event_type,
       |    CAST(floor(quantile_cont(value, 0.5) * 1000.0) AS BIGINT)
       |      AS med_u
       |  FROM vu GROUP BY event_type),
       |dev AS (
       |  SELECT v.event_type, abs(v.v_u - m.med_u) AS dev_u, m.med_u
       |  FROM vu v JOIN med m USING (event_type)),
       |mad AS (
       |  SELECT event_type,
       |    CAST(floor(quantile_cont(dev_u, 0.5) * 1000.0) AS BIGINT)
       |      AS mad_mu
       |  FROM dev GROUP BY event_type)
       |SELECT d.event_type, count(*) AS n,
       |  min(d.med_u) AS med_u,
       |  min(a.mad_mu) AS mad_mu,
       |  CAST(sum(CASE WHEN d.dev_u * 1000 > 3 * a.mad_mu
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  max(d.dev_u) AS max_dev_u
       |FROM dev d JOIN mad a USING (event_type)
       |GROUP BY d.event_type
       |ORDER BY d.event_type""".stripMargin

  // ---------------------------------------------------------------- q155
  /** EVENT DEBOUNCE — duplicate-delivery audit for an at-least-once
    * event bus: within each (user, event_type) stream, an event landing
    * within [[DebounceGapS]] seconds of its predecessor is counted a
    * redelivery/double-fire (UI double-clicks, retried webhooks, SDK
    * retries), reported per type as count + micro-rate. The ingest-side
    * twin of the content-dedup family: q45 dedups payloads, this audits
    * the DELIVERY stream, where byte-identical payloads are legitimate
    * if far apart in time.
    *
    * The lag-based rule is the stateless "debounce" reading (gap to
    * the previous event, kept or not) — deliberately, because it is
    * window-expressible and replayable; a keep-chain reading (gap to
    * the previously KEPT event) is iterative and belongs to the
    * streaming twin's state loop.
    *
    * Scale posture: q25's shuffle-once sessionization shape — one hash
    * shuffle on user_id, per-(user, type) sorted window, never a
    * global sort; the report is one partial-aggregable |types|-row
    * groupBy. Rates are exact int64 (`div`). */
  val DebounceGapS = 300L

  private def q155(spark: SparkSession, dir: String): DataFrame = {
    val byKey = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("gap_s",
        col("ts").cast(LongType) - lag(col("ts"), 1).over(byKey).cast(LongType))
      .withColumn("is_dup",
        when(col("gap_s").isNotNull && col("gap_s") <= DebounceGapS, 1L)
          .otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("is_dup")).as("n_dups"))
      .withColumn("dup_rate_u",
        expr("(1000000 * n_dups) div n_events"))
      .orderBy(col("event_type"))
  }

  private val q155Sql =
    s"""WITH gaps AS (
       |  SELECT event_type,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id, event_type
       |        ORDER BY ts, event_id), ts) AS gap_s
       |  FROM events),
       |flagged AS (
       |  SELECT event_type,
       |    CASE WHEN gap_s IS NOT NULL AND gap_s <= $DebounceGapS
       |      THEN 1 ELSE 0 END AS is_dup
       |  FROM gaps)
       |SELECT event_type, count(*) AS n_events,
       |  CAST(sum(is_dup) AS BIGINT) AS n_dups,
       |  (1000000 * CAST(sum(is_dup) AS BIGINT)) // count(*) AS dup_rate_u
       |FROM flagged GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q156
  /** MULTI-TOUCH ATTRIBUTION — the marketing-analytics question q147's
    * state attribution doesn't answer: when a purchase converts, which
    * upstream TOUCHES (views, clicks, signups, even errors) get the
    * credit? Each user's event stream splits into journeys at purchase
    * boundaries (journey j = everything after the j-th purchase up to
    * and including the (j+1)-th); for every CONVERTING journey the
    * three standard models score its touches: first-touch (the opener),
    * last-touch (the closer), and linear (1/n to each touch, in exact
    * micro-units via integer division — no float summation order).
    * Purchases with no preceding touch credit the explicit `(none)`
    * row (q147's convention), so every conversion is accounted for.
    *
    * Scale posture: everything windows per user (one hash shuffle,
    * q25's posture); the converting-journey semi join keys on
    * (user_id, journey) — both sides partition identically; the report
    * is one partial-aggregable ≤|types|-row groupBy. Journey fan-out
    * is bounded by the user's own event count, never a log cross. */
  private def q156(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("is_p",
        when(col("event_type") === "purchase", 1L).otherwise(0L))
      .withColumn("journey", sum(col("is_p")).over(cum) - col("is_p"))
    // One (user_id, journey) row per purchase: journeys convert at
    // most once (the closing purchase starts the NEXT journey).
    val conv = ev.filter(col("is_p") === 1L)
      .select(col("user_id"), col("journey"))
    val touches = ev.filter(col("is_p") === 0L)
      .join(conv, Seq("user_id", "journey"), "left_semi")
    val byJourney = Window.partitionBy(col("user_id"), col("journey"))
    val ranked = touches
      .withColumn("rf", row_number().over(
        byJourney.orderBy(col("ts"), col("event_id"))))
      .withColumn("rl", row_number().over(
        byJourney.orderBy(col("ts").desc, col("event_id").desc)))
      .withColumn("nt", count(lit(1)).over(byJourney))
    val credits = ranked.groupBy(col("event_type").as("touch_type"))
      .agg(sum(when(col("rf") === 1, 1L).otherwise(0L)).as("first_credits"),
        sum(when(col("rl") === 1, 1L).otherwise(0L)).as("last_credits"),
        sum(expr("1000000 div nt")).as("linear_credit_u"))
    // Conversions with zero touches (first-ever or back-to-back
    // purchases) credit '(none)' in all three models, full weight.
    val none = conv
      .join(touches.select(col("user_id"), col("journey")).distinct(),
        Seq("user_id", "journey"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("(none)").as("touch_type"),
        col("n").as("first_credits"), col("n").as("last_credits"),
        (col("n") * 1000000L).as("linear_credit_u"))
    credits.unionByName(none).orderBy(col("touch_type"))
  }

  private val q156Sql =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
       |  FROM events),
       |cum AS (
       |  SELECT *,
       |    CAST(sum(is_p) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - is_p AS journey
       |  FROM ev),
       |conv AS (SELECT user_id, journey FROM cum WHERE is_p = 1),
       |touch AS (
       |  SELECT c.user_id, c.journey, c.event_type, c.ts, c.event_id
       |  FROM cum c JOIN conv v
       |    ON c.user_id = v.user_id AND c.journey = v.journey
       |  WHERE c.is_p = 0),
       |ranked AS (
       |  SELECT event_type,
       |    row_number() OVER (PARTITION BY user_id, journey
       |      ORDER BY ts, event_id) AS rf,
       |    row_number() OVER (PARTITION BY user_id, journey
       |      ORDER BY ts DESC, event_id DESC) AS rl,
       |    count(*) OVER (PARTITION BY user_id, journey) AS nt
       |  FROM touch),
       |credits AS (
       |  SELECT event_type AS touch_type,
       |    CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS first_credits,
       |    CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS last_credits,
       |    CAST(sum(1000000 // nt) AS BIGINT) AS linear_credit_u
       |  FROM ranked GROUP BY 1),
       |none AS (
       |  SELECT '(none)' AS touch_type,
       |    count(*) AS first_credits, count(*) AS last_credits,
       |    CAST(count(*) * 1000000 AS BIGINT) AS linear_credit_u
       |  FROM conv v LEFT JOIN (SELECT DISTINCT user_id, journey FROM touch) t
       |    ON v.user_id = t.user_id AND v.journey = t.journey
       |  WHERE t.user_id IS NULL)
       |SELECT * FROM credits UNION ALL SELECT * FROM none
       |ORDER BY touch_type""".stripMargin

  // ---------------------------------------------------------------- q184
  /** CUSUM CHANGE-POINT DETECTION per event type — the SEQUENTIAL
    * complement of q65's pointwise rate anomaly: q65 flags an hour
    * whose count leaves a trailing band (a spike), CUSUM (Page 1954)
    * accumulates small persistent deviations until their SUM is
    * undeniable — the canonical detector for a sustained rate SHIFT a
    * spike detector never fires on (each post-shift hour sits inside
    * the band; their sum does not). Exact integer form, no tuning
    * constants: per type over the dense hour grid, the scaled
    * deviation d_t = cnt_t·H − T sums to 0 exactly over the window, so
    * the running sum S'_t is a drift-free random walk under a constant
    * rate; `up_u` = max_t (S'_t − min_{u≤t} S'_u) is the classic
    * one-sided CUSUM statistic (in event·hours units), `up_from_hour`
    * the argmin of S' — the hour the sustained rise BEGINS after
    * (CUSUM's change-point estimate); `down_u`/`down_from_hour` the
    * mirrored one-sided drop detector. A flat type reads exactly 0/0.
    *
    * Determinism: counts exact int64, d_t exact (no mean division —
    * scaling by H instead of dividing by it), min/max/argmin over
    * int64 with ties to the LATEST hour — the change-point estimate is
    * the LAST time the walk touched its extremum (an on-rate prefix
    * holds the walk at 0, and the estimate must date the onset at the
    * prefix's end, not its start; ties-to-earliest would blame hour
    * zero).
    *
    * Scale posture: one partial-aggregable (type, hour) count (q20's
    * frame), densified against the |hours| domain grid (bounded by the
    * time window, not the event count); the walk is two stacked
    * per-type Window passes over that grid (cum, then running min/max
    * of cum — one shuffle keyed by type); the report re-aggregates
    * |types| × |hours| rows with hash-aggregable argmax. Int64
    * headroom: |S'| ≤ T·H, so ~10¹⁴ events over ~10⁴ hours wants the
    * documented DECIMAL swap or per-week windows. */
  private def q184(spark: SparkSession, dir: String): DataFrame = {
    // graft_argmax rides the extension registry; Events queries are the
    // one suite that can reach it without touching the vector frames
    // (which register on access), so register explicitly.
    graft.functions.VectorExprs.ensureRegistered(spark)
    val hc = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    // DENSE hour domain over the observed span — an hour in which NO
    // type emitted (a total feed outage) must still fold cnt = 0 for
    // every type, or a dead feed never drives the DOWN detectors
    // (round-11 advice). sequence() is bounded by the time window.
    val hours = hc.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("interval 1 hour"))).as("hour"))
    val types = hc.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("total"))
    val nHours = hours.agg(count(lit(1)).as("n_hours"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // |types| × |hours| grid. The hour domain is bounded by the time
    // window, not the event count, and both sides are derived frames
    // (no stats) — hint the broadcast STRUCTURALLY so the grid can
    // never degrade to a CartesianProduct on a stats-blind plan (the
    // exact q182/q185 defect class fixed in de8be44).
    val walk = types.crossJoin(broadcast(hours))
      .join(hc, Seq("event_type", "hour"), "left").na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(nHours))
      .withColumn("d", col("cnt") * col("n_hours") - col("total"))
      .withColumn("s", sum(col("d")).over(wCum))
      .withColumn("smin", min(col("s")).over(wCum))
      .withColumn("smax", max(col("s")).over(wCum))
    walk.groupBy(col("event_type"))
      .agg(max(col("n_hours")).as("n_hours"),
        max(col("total")).as("total"),
        max(col("s") - col("smin")).as("up_u"),
        graft.functions.ArgMaxAgg.argMax(
          struct(negate(col("s")), unix_micros(col("hour"))),
          col("hour")).as("up_from_hour"),
        max(col("smax") - col("s")).as("down_u"),
        graft.functions.ArgMaxAgg.argMax(
          struct(col("s"), unix_micros(col("hour"))),
          col("hour")).as("down_from_hour"))
      .orderBy(col("up_u").desc, col("event_type"))
  }

  private val q184Sql =
    s"""WITH hc AS (
       |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       |    event_type, count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |hours AS (
       |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
       |  FROM (SELECT min(hour) AS h0, max(hour) AS h1 FROM hc)),
       |types AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS total
       |  FROM hc GROUP BY 1),
       |nh AS (SELECT count(*) AS n_hours FROM hours),
       |walk AS (
       |  SELECT *,
       |    min(s) OVER (PARTITION BY event_type ORDER BY hour
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS smin,
       |    max(s) OVER (PARTITION BY event_type ORDER BY hour
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS smax
       |  FROM (
       |    SELECT t.event_type, h.hour, t.total, n.n_hours,
       |      CAST(sum(coalesce(x.cnt, 0) * n.n_hours - t.total)
       |        OVER (PARTITION BY t.event_type ORDER BY h.hour
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |        AS BIGINT) AS s
       |    FROM types t CROSS JOIN hours h CROSS JOIN nh n
       |      LEFT JOIN hc x
       |        ON x.event_type = t.event_type AND x.hour = h.hour)),
       |updet AS (
       |  SELECT event_type, hour AS up_from_hour FROM (
       |    SELECT event_type, hour, row_number() OVER (
       |      PARTITION BY event_type ORDER BY s, hour DESC) AS rn
       |    FROM walk) WHERE rn = 1),
       |downdet AS (
       |  SELECT event_type, hour AS down_from_hour FROM (
       |    SELECT event_type, hour, row_number() OVER (
       |      PARTITION BY event_type ORDER BY s DESC, hour DESC) AS rn
       |    FROM walk) WHERE rn = 1)
       |SELECT w.event_type, max(w.n_hours) AS n_hours,
       |  max(w.total) AS total,
       |  CAST(max(w.s - w.smin) AS BIGINT) AS up_u,
       |  max(u.up_from_hour) AS up_from_hour,
       |  CAST(max(w.smax - w.s) AS BIGINT) AS down_u,
       |  max(d.down_from_hour) AS down_from_hour
       |FROM walk w
       |  JOIN updet u ON w.event_type = u.event_type
       |  JOIN downdet d ON w.event_type = d.event_type
       |GROUP BY w.event_type
       |ORDER BY up_u DESC, w.event_type""".stripMargin

  // ---------------------------------------------------------------- q191
  /** EVENT TRANSITION MATRIX (first-order Markov audit) — q149 mines
    * which event pairs co-occur in a user's history; this reads the
    * SEQUENTIAL structure those sets erase: for each consecutive pair
    * in a user's stream (ts, then event_id order — q25's total order),
    * the (from → to) count and the exact row-conditional probability
    * P(next = to | cur = from). The product surfaces broken funnels
    * ("purchase → error spiked"), bot signatures (self-loops at
    * p ≈ 1), and the empirical transition kernel a simulator or
    * session-generating test harness replays.
    *
    * Determinism: counts exact int64; the probability is one
    * nonnegative floor-div in micro-units; output ordered (from, to).
    *
    * Scale posture: ONE user-keyed window (lead over q25's sort — the
    * sessionize shuffle shape) feeding a partial-aggregable
    * (from, to) count; the marginal re-aggregates the ≤|types|² cell
    * frame and broadcasts back. Nothing corpus-sized shuffles twice. */
  private def q191(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cells = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val marg = cells.groupBy(col("from_type")).agg(sum(col("cnt")).as("n_from"))
    cells.join(broadcast(marg), "from_type")
      .withColumn("p_u", expr("(1000000 * cnt) div n_from"))
      .select(col("from_type"), col("to_type"), col("cnt"), col("n_from"),
        col("p_u"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val q191Sql =
    s"""WITH pairs AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |cells AS (
       |  SELECT from_type, to_type, count(*) AS cnt
       |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |marg AS (
       |  SELECT from_type, CAST(sum(cnt) AS BIGINT) AS n_from
       |  FROM cells GROUP BY 1)
       |SELECT c.from_type, c.to_type, c.cnt, m.n_from,
       |  (1000000 * c.cnt) // m.n_from AS p_u
       |FROM cells c JOIN marg m ON c.from_type = m.from_type
       |ORDER BY c.from_type, c.to_type""".stripMargin

  // ---------------------------------------------------------------- q192
  /** SESSION ENTRY-TYPE REPORT — q25 builds the sessions, this asks
    * the landing-page question of them: per ENTRY event type (the
    * event that opened the session — exactly the `is_new = 1` row, so
    * no second window pass is needed to find it), how many sessions
    * start there, how deep they go, how long they last, and how often
    * they convert (reach a `purchase`). The table a funnel owner reads
    * next to q63: not "how far do users get" but "which doors are
    * worth the traffic".
    *
    * Determinism: q25's exact session assignment (30-minute gap, ts +
    * event_id total order); depth/duration/conversion are int64 counts
    * and second-diffs with floor-div micro rates.
    *
    * Scale posture: q25's one user-keyed window (gap + cumulative
    * session id ride a single sort), one partial-aggregable
    * per-session aggregate — the entry type surfaces as
    * max(CASE is_new) inside it, not a second window — then a
    * ≤|types|-row re-aggregate. */
  private def q192(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(spark)
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("gap_s",
        col("ts").cast(LongType) - lag(col("ts"), 1).over(byUser).cast(LongType))
      .withColumn("is_new",
        when(col("gap_s").isNull || col("gap_s") > 1800L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        // graft_argmax instead of max(CASE): a string-buffered max
        // demotes the whole aggregate to SortAggregate; the argmax
        // rides ObjectHashAggregate, and the single is_new=1 row wins
        // its ordering strictly (every session has exactly one)
        graft.functions.ArgMaxAgg.argMax(struct(col("is_new")),
          col("event_type")).as("entry_type"),
        count(lit(1)).as("n_events"),
        (max(col("ts").cast(LongType)) - min(col("ts").cast(LongType)))
          .as("dur_s"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
    sess.groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("sum_events"),
        sum(col("dur_s")).as("sum_dur_s"),
        sum(col("converted")).as("n_converted"))
      .select(col("entry_type"), col("n_sessions"),
        expr("(1000000 * sum_events) div n_sessions").as("depth_u"),
        expr("sum_dur_s div n_sessions").as("avg_dur_s"),
        col("n_converted"),
        expr("(1000000 * n_converted) div n_sessions").as("conversion_u"))
      .orderBy(col("n_sessions").desc, col("entry_type"))
  }

  private val q192Sql =
    s"""WITH gaps AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |flagged AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END
       |      AS is_new
       |  FROM gaps),
       |sess AS (
       |  SELECT user_id, ts, event_type, is_new,
       |    CAST(sum(is_new) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM flagged),
       |per AS (
       |  SELECT user_id, session_id,
       |    max(CASE WHEN is_new = 1 THEN event_type END) AS entry_type,
       |    count(*) AS n_events,
       |    date_diff('second', CAST(min(ts) AS TIMESTAMP),
       |      CAST(max(ts) AS TIMESTAMP)) AS dur_s,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS converted
       |  FROM sess GROUP BY 1, 2)
       |SELECT entry_type, count(*) AS n_sessions,
       |  (1000000 * CAST(sum(n_events) AS BIGINT)) // count(*) AS depth_u,
       |  CAST(sum(dur_s) AS BIGINT) // count(*) AS avg_dur_s,
       |  CAST(sum(converted) AS BIGINT) AS n_converted,
       |  (1000000 * CAST(sum(converted) AS BIGINT)) // count(*)
       |    AS conversion_u
       |FROM per GROUP BY entry_type
       |ORDER BY n_sessions DESC, entry_type""".stripMargin

  // ---------------------------------------------------------------- q194
  /** USER RETENTION SURVIVAL CURVE (Nelson–Aalen cumulative hazard,
    * right-censored) — q64 counts "users seen again on day d"; this
    * answers the question retention analyses actually pose: *given a
    * user survived d days, what fraction churn on day d* (the hazard),
    * and how does churn risk ACCUMULATE over a lifetime (the
    * Nelson–Aalen estimator H(d) = Σ_{d'≤d} churn(d')/at_risk(d'),
    * with S ≈ exp(−H)). The estimator is censoring-aware: a user whose
    * last event falls inside the final [[SurvivalCensorS]] of the
    * observation window has not been OBSERVED to churn — their
    * lifetime is a lower bound, so they count in every risk set up to
    * it but never as a churn event. Ignoring censoring (as a naive
    * lifetime histogram does) systematically inflates late-day churn.
    *
    * Determinism: lifetimes are int64 second diffs floor-divided to
    * days; the hazard is one nonnegative micro floor-div per day and
    * the cumulative hazard an int64 running sum — no floats anywhere
    * (this is why Nelson–Aalen over Kaplan–Meier: H is a pure rational
    * sum where KM's S is a product needing ln).
    *
    * Scale posture: ONE user-keyed aggregate (first/last event — the
    * q64 shuffle shape) collapses the corpus to |users| rows; the
    * day table is ≤ span-days rows, so the risk-set window (reverse
    * cumulative sum) and the hazard walk run over a time-bounded
    * frame, not an event- or user-bounded one. The observation
    * boundary is a 1-row derived frame, broadcast structurally. */
  private[graft] val SurvivalCensorS = 7L * 86400L

  private def q194(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(col("ts").cast(LongType)).as("t0_s"),
        max(col("ts").cast(LongType)).as("t1_s"))
    val bound = users.agg(max(col("t1_s")).as("w_s"))
    val lives = users.crossJoin(broadcast(bound))
      .withColumn("life_day", expr("(t1_s - t0_s) div 86400"))
      .withColumn("censored",
        when(col("t1_s") > col("w_s") - SurvivalCensorS, 1L).otherwise(0L))
    val days = lives.groupBy(col("life_day"))
      .agg(sum(lit(1L) - col("censored")).as("n_churn"),
        sum(col("censored")).as("n_censored"))
    // Reverse-cumulative risk set over the ≤span-days frame (time-
    // bounded, not data-bounded — same class as q184's hour walk).
    val wDesc = Window.orderBy(col("life_day").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("life_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days
      .withColumn("n_risk", sum(col("n_churn") + col("n_censored")).over(wDesc))
      .withColumn("hazard_u", expr("(1000000 * n_churn) div n_risk"))
      .withColumn("cumhaz_u", sum(col("hazard_u")).over(wAsc))
      .select(col("life_day"), col("n_risk"), col("n_churn"),
        col("n_censored"), col("hazard_u"), col("cumhaz_u"))
      .orderBy(col("life_day"))
  }

  private val q194Sql =
    s"""WITH users AS (
       |  SELECT user_id,
       |    min(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts))
       |      AS t0_s,
       |    max(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts))
       |      AS t1_s
       |  FROM events GROUP BY 1),
       |bound AS (SELECT max(t1_s) AS w_s FROM users),
       |lives AS (
       |  SELECT (t1_s - t0_s) // 86400 AS life_day,
       |    CASE WHEN t1_s > w_s - ${SurvivalCensorS} THEN 1 ELSE 0 END
       |      AS censored
       |  FROM users CROSS JOIN bound),
       |days AS (
       |  SELECT life_day,
       |    CAST(sum(1 - censored) AS BIGINT) AS n_churn,
       |    CAST(sum(censored) AS BIGINT) AS n_censored
       |  FROM lives GROUP BY 1),
       |walk AS (
       |  SELECT life_day, n_churn, n_censored,
       |    CAST(sum(n_churn + n_censored) OVER (ORDER BY life_day DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_risk
       |  FROM days)
       |SELECT life_day, n_risk, n_churn, n_censored,
       |  (1000000 * n_churn) // n_risk AS hazard_u,
       |  CAST(sum((1000000 * n_churn) // n_risk) OVER (ORDER BY life_day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cumhaz_u
       |FROM walk
       |ORDER BY life_day""".stripMargin

  // ---------------------------------------------------------------- q195
  /** STATIONARY DISTRIBUTION of the q191 transition kernel — the
    * long-run occupancy the empirical Markov chain converges to: where
    * a user following the OBSERVED transition probabilities spends
    * their time, independent of entry point. Divergence between π and
    * the raw event-type frequency is the diagnostic: a type can be
    * common in the log yet transient in the dynamics (an entry page
    * everyone bounces off) or rare but absorbing (an error state users
    * cannot leave). [[StationaryIters]] synchronous power-iteration
    * steps on the micro-integer kernel; with every observed chain
    * mixing in far fewer steps, the iterate is stationary to within
    * the floor-division quantum.
    *
    * Determinism: the kernel is q191's exact micro floor-div; each
    * step is Σᵢ πᵢ·pᵤ(i,j) div 10⁶ in int64 (|π|≤10⁶, |pᵤ|≤10⁶,
    * Σ over ≤|types| terms ≤ |types|·10¹² ≪ 2⁶³) — the driver-side
    * loop and the oracle's unrolled CTE chain perform the identical
    * integer arithmetic. Floor loss makes Σπ drift a few micro per
    * step (documented; both engines drift identically).
    *
    * Scale posture: the corpus-sized work is exactly q191's (one
    * user-keyed lead window + a ≤|types|² cell count); the kernel is
    * then a bounded artifact — collecting ≤|types|² rows and iterating
    * on the driver is the same bounded-collect discipline as the
    * k-means codebook loop (q79). Types with no outgoing transitions
    * shed their mass (documented absorbing-edge semantics, identical
    * in both engines). */
  private[graft] val StationaryIters = 24

  private def q195(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cells = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val marg = cells.groupBy(col("from_type")).agg(sum(col("cnt")).as("n_from"))
    val kernel = cells.join(broadcast(marg), "from_type")
      .select(col("from_type"), col("to_type"),
        expr("(1000000 * cnt) div n_from").as("p_u"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // Bounded driver iteration: ≤|types|² kernel rows (q79's collected-
    // codebook discipline). π₀ uniform over the from-type set, floors
    // mirroring the oracle's integer CTE chain exactly.
    val fromTypes = kernel.map(_._1).distinct.sorted
    val k = fromTypes.length.toLong
    // Empty-kernel guard: an events table with no user producing two
    // ordered events yields zero transitions — the oracle's CTE chain is
    // then empty at every step, so the Spark side must return the empty
    // frame too (not divide 10⁶ by zero building π₀).
    if (k == 0L) {
      Seq.empty[(String, Long)].toDF("event_type", "pi_u")
    } else {
      var pi: Map[String, Long] =
        fromTypes.map(t => t -> 1000000L / k).toMap
      for (_ <- 1 to StationaryIters) {
        pi = kernel
          .filter { case (f, _, _) => pi.contains(f) }
          .groupBy(_._2)
          .map { case (to, rows) =>
            to -> rows.map { case (f, _, p) => pi(f) * p }.sum / 1000000L }
      }
      pi.toSeq.toDF("event_type", "pi_u")
        .orderBy(col("pi_u").desc, col("event_type"))
    }
  }

  // MATERIALIZED: DuckDB inlines CTEs by default, and the 24-deep
  // chain (each step referencing `kernel` again) explodes its
  // optimizer's search space — materialization plans each step once.
  private val q195Sql = {
    val chain = (1 to StationaryIters).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT k.to_type AS t,
         |    CAST(sum(p.pi_u * k.p_u) // 1000000 AS BIGINT) AS pi_u
         |  FROM p${i - 1} p JOIN kernel k ON p.t = k.from_type
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |cells AS MATERIALIZED (
       |  SELECT from_type, to_type, count(*) AS cnt
       |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |marg AS MATERIALIZED (
       |  SELECT from_type, CAST(sum(cnt) AS BIGINT) AS n_from
       |  FROM cells GROUP BY 1),
       |kernel AS MATERIALIZED (
       |  SELECT c.from_type, c.to_type, (1000000 * c.cnt) // m.n_from AS p_u
       |  FROM cells c JOIN marg m ON c.from_type = m.from_type),
       |p0 AS MATERIALIZED (
       |  SELECT from_type AS t,
       |    1000000 // (SELECT count(*) FROM marg) AS pi_u
       |  FROM marg),
       |$chain
       |SELECT t AS event_type, pi_u FROM p$StationaryIters
       |ORDER BY pi_u DESC, t""".stripMargin
  }

  // ---------------------------------------------------------------- q199
  /** DAILY-CYCLE SEASONALITY AUDIT — lag-24 autocorrelation of each
    * type's hourly count series over q184's dense hour grid: the
    * exact Pearson correlation between hour h and hour h−24. High r
    * = human diurnal traffic; r ≈ 0 = arrival-time noise or uniform
    * automation; NEGATIVE r = alternating load. The number a capacity
    * planner or anomaly-detector calibrator reads before assuming
    * "same hour yesterday" is a valid baseline (q65's trailing band
    * and q184's CUSUM both quietly do) — and a bot-vs-human signature
    * next to q191's self-loop probabilities.
    *
    * Determinism: counts on the DENSE grid (missing hours fold 0 —
    * q184's densification, so the pairing is positional in TIME, not
    * in observed rows); the five moment sums are exact int64; r is
    * one double expression (cast, multiply, sqrt, divide — each a
    * single correctly-rounded IEEE op) floored to micro. Flat series
    * (zero variance on either side) read r_u = 0 with the pair count
    * still emitted.
    *
    * Scale posture: one partial-aggregable (type, hour) count; the
    * grid is |types| × |hours| (time-bounded); one per-type lag
    * window over it and a |types|-row moment aggregate. Int64
    * headroom: Σx² ≤ hours·peak² — a year of hours at 10⁶/hour peaks
    * sits at 10¹⁶ < 2⁶³; beyond that, the documented DECIMAL swap. */
  private def q199(spark: SparkSession, dir: String): DataFrame = {
    val hc = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val hours = hc.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("interval 1 hour"))).as("hour"))
    val types = hc.select(col("event_type")).distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val grid = types.crossJoin(broadcast(hours))
      .join(hc, Seq("event_type", "hour"), "left").na.fill(0L, Seq("cnt"))
      .withColumn("prev", lag(col("cnt"), 24).over(w))
      .filter(col("prev").isNotNull)
    grid.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("cnt")).as("sy"), sum(col("prev")).as("sx"),
        sum(col("cnt") * col("prev")).as("sxy"),
        sum(col("cnt") * col("cnt")).as("syy"),
        sum(col("prev") * col("prev")).as("sxx"))
      .withColumn("vx", col("n_pairs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n_pairs") * col("syy") - col("sy") * col("sy"))
      .withColumn("r24_u",
        when(col("vx") === 0L || col("vy") === 0L, lit(0L))
          .otherwise(floor(lit(1000000.0) *
            (col("n_pairs") * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType) /
            sqrt(col("vx").cast(DoubleType) * col("vy").cast(DoubleType)))
            .cast(LongType)))
      .select(col("event_type"), col("n_pairs"), col("r24_u"))
      .orderBy(col("r24_u").desc, col("event_type"))
  }

  private val q199Sql =
    s"""WITH hc AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       |    event_type, count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |hours AS (
       |  SELECT unnest(generate_series(
       |    (SELECT min(hour) FROM hc), (SELECT max(hour) FROM hc),
       |    INTERVAL 1 HOUR)) AS hour),
       |grid AS (
       |  SELECT t.event_type, h.hour, COALESCE(c.cnt, 0) AS cnt
       |  FROM (SELECT DISTINCT event_type FROM hc) t
       |    CROSS JOIN hours h
       |    LEFT JOIN hc c ON c.event_type = t.event_type
       |      AND c.hour = h.hour),
       |lagged AS (
       |  SELECT event_type, cnt,
       |    lag(cnt, 24) OVER (PARTITION BY event_type ORDER BY hour)
       |      AS prev
       |  FROM grid),
       |mom AS (
       |  SELECT event_type, count(*) AS n_pairs,
       |    CAST(sum(cnt) AS BIGINT) AS sy,
       |    CAST(sum(prev) AS BIGINT) AS sx,
       |    CAST(sum(cnt * prev) AS BIGINT) AS sxy,
       |    CAST(sum(cnt * cnt) AS BIGINT) AS syy,
       |    CAST(sum(prev * prev) AS BIGINT) AS sxx
       |  FROM lagged WHERE prev IS NOT NULL GROUP BY 1)
       |SELECT event_type, n_pairs,
       |  CASE WHEN n_pairs * sxx - sx * sx = 0
       |         OR n_pairs * syy - sy * sy = 0 THEN 0
       |    ELSE CAST(floor(1000000.0 *
       |      CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
       |      sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE) *
       |           CAST(n_pairs * syy - sy * sy AS DOUBLE))) AS BIGINT)
       |  END AS r24_u
       |FROM mom
       |ORDER BY r24_u DESC, event_type""".stripMargin

  // ---------------------------------------------------------------- q200
  /** PERIOD DETECTION (autocorrelation over a lag set) — q199 asks
    * "is this feed daily?"; this asks "what period IS it": the exact
    * Pearson autocorrelation of each type's dense hourly series at
    * every lag in [[PeriodLags]] (1 h through 2 d), one row per
    * (type, lag). The reader takes the argmax; the full curve is the
    * deliverable because the SHAPE distinguishes a true daily cycle
    * (peak at 24, echo at 48) from short-range stickiness (monotone
    * decay from lag 1) — the difference between "model the diurnal
    * curve" and "model a bursty arrival process" (q201's CV slices
    * the same question by dispersion).
    *
    * Determinism: q199's arithmetic verbatim per lag — dense-grid
    * counts, exact int64 moments, one double expression micro-floored,
    * zero-variance guard. All lags ride ONE window pass (one shuffle,
    * one sort — each lag is just another offset over the same frame).
    *
    * Scale posture: the grid is |types|×|hours| (time-bounded); the
    * lag columns widen rows, not partitions; the unpivot multiplies
    * the GRID by |lags| (still time-bounded); moments are
    * partial-aggregable to |types|·|lags| rows. */
  private[graft] val PeriodLags = Seq(1, 2, 3, 6, 12, 24, 48)

  private def q200(spark: SparkSession, dir: String): DataFrame = {
    val hc = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val hours = hc.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("interval 1 hour"))).as("hour"))
    val types = hc.select(col("event_type")).distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val lagged = types.crossJoin(broadcast(hours))
      .join(hc, Seq("event_type", "hour"), "left").na.fill(0L, Seq("cnt"))
    val withLags = PeriodLags.foldLeft(lagged) { (df, l) =>
      df.withColumn(s"p$l", lag(col("cnt"), l).over(w))
    }
    val stacked = withLags.select(col("event_type"), col("cnt"),
      expr(PeriodLags.map(l => s"${l}L, p$l").mkString(
        s"stack(${PeriodLags.size}, ", ", ", ")")).as(Seq("lag_h", "prev")))
      .filter(col("prev").isNotNull)
    stacked.groupBy(col("event_type"), col("lag_h"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("cnt")).as("sy"), sum(col("prev")).as("sx"),
        sum(col("cnt") * col("prev")).as("sxy"),
        sum(col("cnt") * col("cnt")).as("syy"),
        sum(col("prev") * col("prev")).as("sxx"))
      .withColumn("vx", col("n_pairs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n_pairs") * col("syy") - col("sy") * col("sy"))
      .withColumn("r_u",
        when(col("vx") === 0L || col("vy") === 0L, lit(0L))
          .otherwise(floor(lit(1000000.0) *
            (col("n_pairs") * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType) /
            sqrt(col("vx").cast(DoubleType) * col("vy").cast(DoubleType)))
            .cast(LongType)))
      .select(col("event_type"), col("lag_h").cast(LongType).as("lag_h"),
        col("n_pairs"), col("r_u"))
      .orderBy(col("event_type"), col("lag_h"))
  }

  private val q200Sql = {
    val lagCols = PeriodLags.map(l =>
      s"lag(cnt, $l) OVER (PARTITION BY event_type ORDER BY hour) AS p$l")
      .mkString(",\n    ")
    val unions = PeriodLags.map(l =>
      s"SELECT event_type, CAST($l AS BIGINT) AS lag_h, cnt, p$l AS prev FROM lagged")
      .mkString("\n  UNION ALL ")
    s"""WITH hc AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       |    event_type, count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |hours AS (
       |  SELECT unnest(generate_series(
       |    (SELECT min(hour) FROM hc), (SELECT max(hour) FROM hc),
       |    INTERVAL 1 HOUR)) AS hour),
       |grid AS (
       |  SELECT t.event_type, h.hour, COALESCE(c.cnt, 0) AS cnt
       |  FROM (SELECT DISTINCT event_type FROM hc) t
       |    CROSS JOIN hours h
       |    LEFT JOIN hc c ON c.event_type = t.event_type
       |      AND c.hour = h.hour),
       |lagged AS (
       |  SELECT event_type, cnt,
       |    $lagCols
       |  FROM grid),
       |stacked AS (
       |  $unions),
       |mom AS (
       |  SELECT event_type, lag_h, count(*) AS n_pairs,
       |    CAST(sum(cnt) AS BIGINT) AS sy,
       |    CAST(sum(prev) AS BIGINT) AS sx,
       |    CAST(sum(cnt * prev) AS BIGINT) AS sxy,
       |    CAST(sum(cnt * cnt) AS BIGINT) AS syy,
       |    CAST(sum(prev * prev) AS BIGINT) AS sxx
       |  FROM stacked WHERE prev IS NOT NULL GROUP BY 1, 2)
       |SELECT event_type, lag_h, n_pairs,
       |  CASE WHEN n_pairs * sxx - sx * sx = 0
       |         OR n_pairs * syy - sy * sy = 0 THEN 0
       |    ELSE CAST(floor(1000000.0 *
       |      CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
       |      sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE) *
       |           CAST(n_pairs * syy - sy * sy AS DOUBLE))) AS BIGINT)
       |  END AS r_u
       |FROM mom
       |ORDER BY event_type, lag_h""".stripMargin
  }

  // ---------------------------------------------------------------- q201
  /** FEED-CADENCE DISPERSION per type — the coefficient of variation
    * of inter-arrival times: a Poisson (memoryless, organic) feed
    * reads CV ≈ 1, a scheduler/metronome reads CV → 0, a bursty
    * crawler or retry storm reads CV ≫ 1. The event-side sibling of
    * q179's Church–Gale document burstiness, and the third leg of the
    * bot-signature kit next to q191's self-loops and q199/q200's
    * periodicity — the three catch different automations (a metronome
    * bot has no self-loop signature; a diurnal human feed has CV ≈ 1).
    *
    * Determinism: gaps are whole-second int64 diffs under the
    * (ts, event_id) total order (q22's recipe); Σx and Σx² exact
    * int64; CV = √(n·Σx² − (Σx)²)/Σx is one double expression
    * micro-floored, zero guard for the empty/degenerate feed. Int64
    * headroom: Σx² ≤ n·maxgap² — a year-long span at second gaps is
    * ~10¹⁴·n; past ~10⁴ events/type·year², the documented DECIMAL
    * swap.
    *
    * Scale posture caveat (stated AND implemented, q106's quantile-
    * mode discipline): the gap window partitions by TYPE — a
    * low-cardinality key, so the exact oracle-pinned form concentrates
    * each type's events in one sort partition. [[CadenceModeConf]] =
    * `segmented` runs the production swap: the sort segments by the
    * events table's native UTC date partitions (gaps computed within
    * (type, day), the ≤|days|·|types| midnight-boundary gaps dropped —
    * a bounded, documented loss, `CadenceModeSpec`-pinned); `exact`
    * (default) keeps the oracle-pinned global form. Loud rejection of
    * unknown values. */
  val CadenceModeConf = "spark.graft.cadence.mode"

  private def cadenceSegmented(spark: SparkSession): Boolean =
    spark.conf.getOption(CadenceModeConf) match {
      case None => false
      case Some(raw) => raw.trim.toLowerCase match {
        case "segmented" => true
        case "exact"     => false
        case other => throw new IllegalArgumentException(
          s"$CadenceModeConf must be 'exact' or 'segmented', got '$other'")
      }
    }

  private def q201(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("ts"))
      .withColumn("ts_s", col("ts").cast(LongType))
    val w =
      if (cadenceSegmented(spark))
        Window.partitionBy(col("event_type"), expr("ts_s div 86400"))
          .orderBy(col("ts"), col("event_id"))
      else
        Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
    base
      .withColumn("prev_s", lag(col("ts_s"), 1).over(w))
      .withColumn("gap_s", col("ts_s") - col("prev_s"))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sx"),
        sum(col("gap_s") * col("gap_s")).as("sxx"))
      .withColumn("mean_gap_u", expr("(1000000 * sx) div n_gaps"))
      .withColumn("cv_u",
        when(col("sx") === 0L, lit(0L))
          .otherwise(floor(lit(1000000.0) *
            sqrt((col("n_gaps") * col("sxx") - col("sx") * col("sx"))
              .cast(DoubleType)) / col("sx").cast(DoubleType))
            .cast(LongType)))
      .select(col("event_type"), col("n_gaps"), col("mean_gap_u"),
        col("cv_u"))
      .orderBy(col("cv_u").desc, col("event_type"))
  }

  private val q201Sql =
    s"""WITH gaps AS (
       |  SELECT event_type,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |mom AS (
       |  SELECT event_type, count(*) AS n_gaps,
       |    CAST(sum(gap_s) AS BIGINT) AS sx,
       |    CAST(sum(gap_s * gap_s) AS BIGINT) AS sxx
       |  FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1)
       |SELECT event_type, n_gaps,
       |  (1000000 * sx) // n_gaps AS mean_gap_u,
       |  CASE WHEN sx = 0 THEN 0
       |    ELSE CAST(floor(1000000.0 *
       |      sqrt(CAST(n_gaps * sxx - sx * sx AS DOUBLE)) /
       |      CAST(sx AS DOUBLE)) AS BIGINT)
       |  END AS cv_u
       |FROM mom
       |ORDER BY cv_u DESC, event_type""".stripMargin

  // ---------------------------------------------------------------- q202
  /** GROWTH ACCOUNTING — the canonical daily user-lifecycle ledger:
    * every active (user, day) is exactly one of NEW (first day ever),
    * RETAINED (also active the previous calendar day), or RESURRECTED
    * (returning after a gap), and yesterday's actives who didn't
    * return are CHURNED-FROM-PREVIOUS — so
    * active(d) = new + retained + resurrected and
    * churn(d) = active(d−1) − retained(d) hold as exact identities
    * the spec pins. q64 reports a fixed cohort's day-k return; this is
    * the running ledger a growth team reads daily (Reforge-style
    * accounting), and the denominators q194's hazard curve needs
    * context for.
    *
    * Determinism: calendar days from epoch-second floor-div (UTC);
    * classification is a lag over each user's distinct active days;
    * all counts int64.
    *
    * Scale posture: ONE user-keyed shuffle produces the distinct
    * (user, day) frame and its per-user lag; the daily ledger is a
    * ≤span-days aggregate and the churn join a bounded self-join of
    * that ledger (day = day−1). */
  private def q202(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("CAST(ts AS LONG) div 86400").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val classed = ud
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("cls",
        when(col("prev_day").isNull, "new")
          .when(col("day") - col("prev_day") === 1L, "retained")
          .otherwise("resurrected"))
    val ledger = classed.groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    val prev = ledger.select((col("day") + 1L).as("day"),
      col("n_active").as("prev_active"))
    ledger.join(prev, Seq("day"), "left")
      .withColumn("n_churned",
        coalesce(col("prev_active"), lit(0L)) - col("n_retained"))
      .select(col("day"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"))
      .orderBy(col("day"))
  }

  private val q202Sql =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id,
       |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
       |      // 86400 AS day
       |  FROM events),
       |classed AS (
       |  SELECT day,
       |    CASE WHEN lag(day) OVER (PARTITION BY user_id ORDER BY day)
       |           IS NULL THEN 'new'
       |      WHEN day - lag(day) OVER (PARTITION BY user_id ORDER BY day)
       |           = 1 THEN 'retained'
       |      ELSE 'resurrected' END AS cls
       |  FROM ud),
       |ledger AS (
       |  SELECT day, count(*) AS n_active,
       |    CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_new,
       |    CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_retained,
       |    CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_resurrected
       |  FROM classed GROUP BY 1)
       |SELECT l.day, l.n_active, l.n_new, l.n_retained, l.n_resurrected,
       |  COALESCE(p.n_active, 0) - l.n_retained AS n_churned
       |FROM ledger l LEFT JOIN ledger p ON p.day = l.day - 1
       |ORDER BY l.day""".stripMargin

  // ---------------------------------------------------------------- q203
  /** STRICT-ORDER SESSION FUNNEL — the product-analytics funnel q63
    * (daily step counts) cannot express: within ONE session, the step
    * sequence view → click → purchase must occur IN ORDER (a purchase
    * before the first view does not count as step 3, exactly
    * Amplitude/Mixpanel "this order" semantics). Per step: sessions
    * reaching it and the exact micro conversion from the session
    * base.
    *
    * Determinism: q25's exact session assignment (30-minute gap,
    * (ts, event_id) total order); step anchors are per-session mins
    * of the event's session ORDINAL under strictly-greater
    * constraints, so ties cannot double-fire; counts int64, rates
    * micro floor-divs.
    *
    * Scale posture: the three step anchors are min(CASE) windows
    * over the session partition of the memoized [[sessionized]]
    * stage (never joins) — the corpus window stack is built once and
    * shared with q205/q206/q207; the report re-aggregates 3 rows. */
  private def q203(spark: SparkSession, dir: String): DataFrame = {
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
    val stepped = sessionized(spark, dir)
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ord"))).over(wSess))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ord") > col("t1"),
          col("ord"))).over(wSess))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ord") > col("t2"),
          col("ord"))).over(wSess))
    val per = stepped.groupBy(col("user_id"), col("session_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
        max(col("t3")).as("t3"))
    val counts = per.agg(count(lit(1)).as("n_sessions"),
      sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("s1"),
      sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("s2"),
      sum(when(col("t3").isNotNull, 1L).otherwise(0L)).as("s3"))
    counts.select(
      explode(array(
        struct(lit(1L).as("step"), lit("view").as("step_type"),
          col("s1").as("n_reached")),
        struct(lit(2L).as("step"), lit("view>click").as("step_type"),
          col("s2").as("n_reached")),
        struct(lit(3L).as("step"), lit("view>click>purchase").as("step_type"),
          col("s3").as("n_reached")))).as("r"),
      col("n_sessions"))
      .select(col("r.step").as("step"), col("r.step_type").as("step_type"),
        col("r.n_reached").as("n_reached"), col("n_sessions"))
      .withColumn("reach_u", expr("(1000000 * n_reached) div n_sessions"))
      .orderBy(col("step"))
  }

  private val q203Sql =
    s"""WITH gaps AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1
       |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM gaps),
       |ord AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY user_id, session_id
       |    ORDER BY ts, event_id) AS BIGINT) AS ord
       |  FROM sess),
       |s1 AS (
       |  SELECT *, min(CASE WHEN event_type = 'view' THEN ord END)
       |    OVER (PARTITION BY user_id, session_id) AS t1
       |  FROM ord),
       |s2 AS (
       |  SELECT *, min(CASE WHEN event_type = 'click' AND ord > t1
       |    THEN ord END) OVER (PARTITION BY user_id, session_id) AS t2
       |  FROM s1),
       |s3 AS (
       |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ord > t2
       |    THEN ord END) OVER (PARTITION BY user_id, session_id) AS t3
       |  FROM s2),
       |per AS (
       |  SELECT user_id, session_id, max(t1) AS t1, max(t2) AS t2,
       |    max(t3) AS t3
       |  FROM s3 GROUP BY 1, 2),
       |counts AS (
       |  SELECT count(*) AS n_sessions,
       |    CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS x1,
       |    CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS x2,
       |    CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS x3
       |  FROM per)
       |SELECT s.step, s.step_type, s.n_reached, c.n_sessions,
       |  (1000000 * s.n_reached) // c.n_sessions AS reach_u
       |FROM counts c, LATERAL (VALUES
       |  (CAST(1 AS BIGINT), 'view', c.x1),
       |  (CAST(2 AS BIGINT), 'view>click', c.x2),
       |  (CAST(3 AS BIGINT), 'view>click>purchase', c.x3))
       |  AS s(step, step_type, n_reached)
       |ORDER BY s.step""".stripMargin

  /** SESSIONIZED EVENTS — q25's exact session assignment (30-minute
    * gap under the (ts, event_id) total order) plus the in-session
    * ordinal and epoch seconds, built ONCE per (session, dir) and
    * shared by the whole session-analytics family (q203 funnel, q205
    * sequence support, q206 conversion latency, q207 dwell): the
    * "sessionize once, query many" posture — at warehouse scale this
    * frame is the materialized session table every product-analytics
    * query reads, not a per-query window stack. */
  private[graft] def sessionized(spark: SparkSession, dir: String): DataFrame =
    Features.cachedFrame(spark, dir, "sessionized") {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bySess = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("ts_s", col("ts").cast(LongType))
        .withColumn("gap_s",
          col("ts_s") - lag(col("ts_s"), 1).over(byUser))
        .withColumn("is_new",
          when(col("gap_s").isNull || col("gap_s") > 1800L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(cum))
        .withColumn("ord", row_number().over(bySess).cast(LongType))
        .select(col("user_id"), col("session_id"), col("ord"),
          col("event_id"), col("ts"), col("ts_s"), col("event_type"))
    }

  // ---------------------------------------------------------------- q205
  /** SEQUENTIAL PAIR SUPPORT — the first mining step of GSP/PrefixSpan
    * over q25's sessions: for every ordered type pair (a ≺ b), the
    * number of sessions in which a's FIRST occurrence precedes b's
    * first occurrence, plus the confidence against a's session base.
    * q149 mines UNORDERED co-occurrence over a user's whole history;
    * q191 sees only ADJACENT transitions; this reads "a then
    * eventually b, within one visit" — the shape funnel DISCOVERY
    * needs before q203 can be pointed at a hypothesis.
    *
    * Determinism: first occurrences under q25's exact (ts, event_id)
    * ordinal; support/confidence are int64 counts and one micro
    * floor-div; output ordered (support desc, pair).
    *
    * Scale posture: the per-(session, type) first-ordinal frame is
    * ≤|types|·sessions rows off the MEMOIZED [[sessionized]] stage
    * (built once per session, shared with q203/q206/q207 — its three
    * references here ride one build, SeqSupportSpec pins it); the
    * pair self-join is per-session and type-bounded (≤|types|² rows
    * per session); supports are partial-aggregable to ≤|types|²
    * report rows. */
  private def q205(spark: SparkSession, dir: String): DataFrame = {
    val firsts = sessionized(spark, dir)
      .groupBy(col("user_id"), col("session_id"), col("event_type"))
      .agg(min(col("ord")).as("first_ord"))
    val a = firsts.select(col("user_id"), col("session_id"),
      col("event_type").as("a"), col("first_ord").as("oa"))
    val b = firsts.select(col("user_id"), col("session_id"),
      col("event_type").as("b"), col("first_ord").as("ob"))
    val support = a.join(b, Seq("user_id", "session_id"))
      .filter(col("oa") < col("ob"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    val base = firsts.groupBy(col("event_type").as("a"))
      .agg(count(lit(1)).as("n_a"))
    support.join(broadcast(base), "a")
      .withColumn("confidence_u", expr("(1000000 * support) div n_a"))
      .select(col("a"), col("b"), col("support"), col("n_a"),
        col("confidence_u"))
      .orderBy(col("support").desc, col("a"), col("b"))
  }

  private val q205Sql =
    s"""WITH gaps AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1
       |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM gaps),
       |ord AS (
       |  SELECT user_id, session_id, event_type,
       |    CAST(row_number() OVER (PARTITION BY user_id, session_id
       |      ORDER BY ts, event_id) AS BIGINT) AS ord
       |  FROM sess),
       |firsts AS (
       |  SELECT user_id, session_id, event_type, min(ord) AS first_ord
       |  FROM ord GROUP BY 1, 2, 3),
       |support AS (
       |  SELECT a.event_type AS a, b.event_type AS b, count(*) AS support
       |  FROM firsts a JOIN firsts b
       |    ON a.user_id = b.user_id AND a.session_id = b.session_id
       |   AND a.first_ord < b.first_ord
       |  GROUP BY 1, 2),
       |base AS (
       |  SELECT event_type AS a, count(*) AS n_a FROM firsts GROUP BY 1)
       |SELECT s.a, s.b, s.support, t.n_a,
       |  (1000000 * s.support) // t.n_a AS confidence_u
       |FROM support s JOIN base t ON s.a = t.a
       |ORDER BY s.support DESC, s.a, s.b""".stripMargin

  // ---------------------------------------------------------------- q206
  /** CONVERSION-LATENCY QUANTILES — how long a session's view →
    * purchase conversion TAKES: per converting session, the seconds
    * from the first view to the first purchase strictly after it (at
    * TIMESTAMP grain, so a same-second view→purchase does not anchor,
    * and with NO intervening-click requirement — deliberately a
    * broader conversion population than q203's ordinal-strict
    * view→click→purchase funnel, which anchors on session ordinals),
    * then the exact nearest-rank quantile table (min/p25/p50/p75/max).
    * q203 prices how many sessions complete the full funnel; this
    * prices how long the two-step conversion capital is tied up — the
    * latency SLA a checkout team actually watches.
    *
    * Determinism: timestamp-grain strict anchors (ts_s > t1);
    * nearest-rank quantiles over the exact total order (latency,
    * user, session) — no interpolation, no float percentile.
    *
    * Scale posture: anchors are two stacked per-session windows over
    * the memoized [[sessionized]] stage; the latency frame is conversions-sized and the global
    * rank window runs over THAT bounded frame (q61's exact-quantile
    * caveat applies only past conversions ≫ memory, with the same
    * documented approx swap); the report is 5 rows. */
  private def q206(spark: SparkSession, dir: String): DataFrame = {
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
    val lat = sessionized(spark, dir)
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts_s"))).over(wSess))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" &&
          col("ts_s") > col("t1"), col("ts_s"))).over(wSess))
      .groupBy(col("user_id"), col("session_id"))
      .agg(max(col("t1")).as("t1"), max(col("t3")).as("t3"))
      .filter(col("t1").isNotNull && col("t3").isNotNull)
      .select(col("user_id"), col("session_id"),
        (col("t3") - col("t1")).as("latency_s"))
    // Both the rank and the population count are windows over the
    // CONVERSIONS-sized frame (single bounded partition) — a separate
    // count aggregate would re-run the anchor windows for one row.
    val wRank = Window.orderBy(col("latency_s"), col("user_id"),
      col("session_id"))
    val ranked = lat
      .withColumn("rnk", row_number().over(wRank).cast(LongType))
      .withColumn("n_conv",
        count(lit(1)).over(Window.partitionBy()).cast(LongType))
    ranked
      .select(explode(array(Seq(0L, 25L, 50L, 75L, 100L).map(lit): _*))
        .as("p"), col("rnk"), col("latency_s"), col("n_conv"))
      .filter(col("rnk") === lit(1L) + expr("((n_conv - 1) * p) div 100"))
      .select(col("p"), col("latency_s"), col("n_conv"))
      .orderBy(col("p"))
  }

  private val q206Sql =
    s"""WITH gaps AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS ts_s,
       |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1
       |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM gaps),
       |s1 AS (
       |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_s END)
       |    OVER (PARTITION BY user_id, session_id) AS t1
       |  FROM sess),
       |s3 AS (
       |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_s > t1
       |    THEN ts_s END) OVER (PARTITION BY user_id, session_id) AS t3
       |  FROM s1),
       |lat AS (
       |  SELECT user_id, session_id,
       |    max(t3) - max(t1) AS latency_s
       |  FROM s3 GROUP BY 1, 2
       |  HAVING max(t1) IS NOT NULL AND max(t3) IS NOT NULL),
       |ranked AS (
       |  SELECT latency_s,
       |    CAST(row_number() OVER (ORDER BY latency_s, user_id, session_id)
       |      AS BIGINT) AS rnk,
       |    (SELECT count(*) FROM lat) AS n_conv
       |  FROM lat)
       |SELECT p, latency_s, n_conv
       |FROM ranked, (VALUES (CAST(0 AS BIGINT)), (25), (50), (75), (100))
       |  AS q(p)
       |WHERE rnk = 1 + ((n_conv - 1) * p) // 100
       |ORDER BY p""".stripMargin

  // ---------------------------------------------------------------- q207
  /** DWELL-TIME ATTRIBUTION — where session TIME goes, by event type:
    * each consecutive in-session gap attributes to the event the user
    * was dwelling ON (the pair's FROM side). Depth (q192) and step
    * counts (q63/q203) weight every event equally; this weights by
    * seconds — the difference between "views dominate the logs" and
    * "views dominate the visit", and the denominator an engagement
    * or exposure-pricing model wants.
    *
    * Determinism: gaps under q25's exact in-session ordinal via one
    * lead; int64 sums, micro floor-div mean and share (share
    * denominator = total attributed seconds, so shares sum to ≤10⁶
    * with floor loss only).
    *
    * Scale posture: one in-session lead over the memoized
    * [[sessionized]] stage (the session sort is already paid);
    * the report is a ≤|types|-row hash aggregate plus a broadcast
    * 1-row total. */
  private def q207(spark: SparkSession, dir: String): DataFrame = {
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ord"))
    val dwell = sessionized(spark, dir)
      .withColumn("dwell_s", lead(col("ts_s"), 1).over(bySess) - col("ts_s"))
      .filter(col("dwell_s").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_dwells"), sum(col("dwell_s")).as("dwell_s"))
    // share denominator as a window over the ≤|types|-row aggregate —
    // a separate total aggregate would re-run the session lead pass.
    dwell
      .withColumn("total_s", sum(col("dwell_s")).over(Window.partitionBy()))
      .select(col("event_type"), col("n_dwells"), col("dwell_s"),
        expr("(1000000 * dwell_s) div n_dwells").as("mean_dwell_u"),
        expr("(1000000 * dwell_s) div total_s").as("share_u"))
      .orderBy(col("share_u").desc, col("event_type"))
  }

  private val q207Sql =
    s"""WITH gaps AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS ts_s,
       |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1
       |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM gaps),
       |dwells AS (
       |  SELECT event_type,
       |    lead(ts_s) OVER (PARTITION BY user_id, session_id
       |      ORDER BY ts, event_id) - ts_s AS dwell_s
       |  FROM sess),
       |agg AS (
       |  SELECT event_type, count(*) AS n_dwells,
       |    CAST(sum(dwell_s) AS BIGINT) AS dwell_s
       |  FROM dwells WHERE dwell_s IS NOT NULL GROUP BY 1)
       |SELECT event_type, n_dwells, dwell_s,
       |  (1000000 * dwell_s) // n_dwells AS mean_dwell_u,
       |  CAST((1000000 * dwell_s) //
       |    CAST((SELECT sum(dwell_s) FROM agg) AS BIGINT) AS BIGINT)
       |    AS share_u
       |FROM agg
       |ORDER BY share_u DESC, event_type""".stripMargin

  // ---------------------------------------------------------------- q208
  /** ENTRY→EXIT MATRIX with bounce rates — q192 asks which doors are
    * worth the traffic; this asks where each door's sessions END: per
    * (entry type, exit type), the session count, how many were
    * single-event BOUNCES (entry = exit by construction), and the
    * exact bounce share. The landing→leaving matrix is the other
    * standing panel of a session report (a door whose mass sits on
    * the diagonal with depth 1 is a bounce problem; one whose exits
    * concentrate on `error` is a breakage problem q191's kernel only
    * shows one hop of).
    *
    * Determinism: entry/exit via `graft_argmax` keyed ±ord — the
    * in-session ordinal is unique, so both selections are total;
    * bounce and share are int64 with one micro floor-div.
    *
    * Scale posture: one per-session aggregate over the memoized
    * [[sessionized]] stage — entry/exit ride the hash-aggregable
    * `graft_argmax` (a `min(struct(ord, type))` would demote the
    * whole aggregate to SortAggregate, q192's pitfall: struct min/max
    * are declarative, only TypedImperative buffers keep OHA) — then a
    * ≤|types|²-row re-aggregate. */
  private def q208(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(spark)
    val per = sessionized(spark, dir)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        graft.functions.ArgMaxAgg.argMax(struct(negate(col("ord"))),
          col("event_type")).as("entry_type"),
        graft.functions.ArgMaxAgg.argMax(struct(col("ord")),
          col("event_type")).as("exit_type"),
        count(lit(1)).as("n_events"))
    per.groupBy(col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounce"))
      .withColumn("bounce_u", expr("(1000000 * n_bounce) div n_sessions"))
      .orderBy(col("n_sessions").desc, col("entry_type"), col("exit_type"))
  }

  private val q208Sql =
    s"""WITH gaps AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1
       |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM gaps),
       |ord AS (
       |  SELECT user_id, session_id, event_type,
       |    CAST(row_number() OVER (PARTITION BY user_id, session_id
       |      ORDER BY ts, event_id) AS BIGINT) AS ord,
       |    CAST(count(*) OVER (PARTITION BY user_id, session_id)
       |      AS BIGINT) AS n_events
       |  FROM sess),
       |per AS (
       |  SELECT user_id, session_id,
       |    max(CASE WHEN ord = 1 THEN event_type END) AS entry_type,
       |    max(CASE WHEN ord = n_events THEN event_type END) AS exit_type,
       |    max(n_events) AS n_events
       |  FROM ord GROUP BY 1, 2)
       |SELECT entry_type, exit_type, count(*) AS n_sessions,
       |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bounce,
       |  (1000000 * CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT)) // count(*) AS bounce_u
       |FROM per GROUP BY 1, 2
       |ORDER BY n_sessions DESC, entry_type, exit_type""".stripMargin

  // ---------------------------------------------------------------- q210
  /** SESSION PATH MINING (trigrams) — the top 20 ADJACENT type-triples
    * inside sessions: q191's kernel sees one hop, q205 sees "a then
    * eventually b"; this reads the literal 3-step paths users walk
    * (view→click→purchase vs view→error→view), the unit a UX funnel
    * review or a next-step recommender's n-gram baseline consumes.
    * Per trigram: total occurrences and the number of DISTINCT
    * sessions containing it (a path that recurs inside few sessions
    * is a loop artifact, not a population pattern).
    *
    * Determinism: adjacency under the in-session ordinal (unique), so
    * the lead windows are total; top-20 under (occurrences desc,
    * t1, t2, t3).
    *
    * Scale posture: two leads on ONE window pass over the memoized
    * [[sessionized]] stage; the per-(session, trigram) frame collapses
    * through two stacked partial-aggregable hash aggregates (cnt,
    * then sum+count) — never a corpus-global window; the top-20 is a
    * bounded heap (TakeOrderedAndProject). */
  private def q210(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ord"))
    val tri = sessionized(spark, dir)
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy(col("user_id"), col("session_id"),
        col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("cnt"))
    tri.groupBy(col("t1"), col("t2"), col("t3"))
      .agg(sum(col("cnt")).as("n_occurrences"),
        count(lit(1)).as("n_sessions"))
      .orderBy(col("n_occurrences").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  private val q210Sql =
    s"""WITH gaps AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1
       |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM gaps),
       |tri AS (
       |  SELECT user_id, session_id, event_type AS t1,
       |    lead(event_type, 1) OVER (PARTITION BY user_id, session_id
       |      ORDER BY ts, event_id) AS t2,
       |    lead(event_type, 2) OVER (PARTITION BY user_id, session_id
       |      ORDER BY ts, event_id) AS t3
       |  FROM sess),
       |per AS (
       |  SELECT user_id, session_id, t1, t2, t3, count(*) AS cnt
       |  FROM tri WHERE t3 IS NOT NULL GROUP BY 1, 2, 3, 4, 5)
       |SELECT t1, t2, t3, CAST(sum(cnt) AS BIGINT) AS n_occurrences,
       |  count(*) AS n_sessions
       |FROM per GROUP BY 1, 2, 3
       |ORDER BY n_occurrences DESC, t1, t2, t3
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q211
  /** RETURN-TIME QUANTILES — how long users stay away BETWEEN
    * sessions: per user, the seconds from each session's end to the
    * next session's start, then the exact nearest-rank quantile table
    * (min/p25/p50/p75/max) over all return gaps. q194's survival curve
    * reads day-grain return probability; this reads the raw
    * within-corpus return-latency distribution at second grain — the
    * number a notification-timing or cache-TTL decision consumes.
    *
    * Determinism: session bounds are min/max of the second-truncated
    * ts over the exact session assignment; the lag is per user by
    * session_id (dense by construction); nearest-rank quantiles — and
    * the nearest-rank VALUE at any rank depends only on the sorted
    * values, so the histogram route below returns bit-identical rows.
    *
    * Scale posture: the per-session bounds collapse through one
    * partial-aggregable hash aggregate off the memoized
    * [[sessionized]] stage; the lag is a user-keyed window over the
    * SESSIONS-sized frame. The quantile cut deliberately does NOT
    * rank the sessions frame (a global row_number concentrated ~10⁶
    * return gaps in one sort task — measured ×30 on the 100× event
    * corpus): it aggregates a (gap_s → count) HISTOGRAM first
    * (partial-aggregable; distinct gap values are bounded by the
    * corpus time span in seconds, orders of magnitude below the
    * session count) and takes the cumulative-count cut over that
    * bounded frame. The report is 5 rows. */
  private def q211(spark: SparkSession, dir: String): DataFrame = {
    val bounds = sessionized(spark, dir)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_s")).as("start_s"), max(col("ts_s")).as("end_s"))
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("session_id"))
    val gapsF = bounds
      .withColumn("prev_end", lag(col("end_s"), 1).over(wUser))
      .filter(col("prev_end").isNotNull)
      .select((col("start_s") - col("prev_end")).as("gap_s"))
    val hist = gapsF.groupBy(col("gap_s")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy(col("gap_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_gaps",
        sum(col("cnt")).over(Window.partitionBy()).cast(LongType))
      .select(explode(array(Seq(0L, 25L, 50L, 75L, 100L).map(lit): _*))
        .as("p"), col("gap_s"), col("cnt"), col("cum"), col("n_gaps"))
      .withColumn("target", lit(1L) + expr("((n_gaps - 1) * p) div 100"))
      .filter(col("cum") >= col("target") &&
        col("cum") - col("cnt") < col("target"))
      .select(col("p"), col("gap_s"), col("n_gaps"))
      .orderBy(col("p"))
  }

  private val q211Sql =
    s"""WITH gaps AS (
       |  SELECT user_id, event_id, ts,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |sess AS (
       |  SELECT user_id, event_id, ts,
       |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1
       |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM gaps),
       |bounds AS (
       |  SELECT user_id, session_id,
       |    min(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts))
       |      AS start_s,
       |    max(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts))
       |      AS end_s
       |  FROM sess GROUP BY 1, 2),
       |ret AS (
       |  SELECT user_id, session_id,
       |    start_s - lag(end_s) OVER (PARTITION BY user_id
       |      ORDER BY session_id) AS gap_s
       |  FROM bounds),
       |ranked AS (
       |  SELECT gap_s,
       |    CAST(row_number() OVER (ORDER BY gap_s, user_id, session_id)
       |      AS BIGINT) AS rnk,
       |    CAST(count(*) OVER () AS BIGINT) AS n_gaps
       |  FROM ret WHERE gap_s IS NOT NULL)
       |SELECT p, gap_s, n_gaps
       |FROM ranked CROSS JOIN (SELECT unnest([0,25,50,75,100]) AS p)
       |WHERE rnk = 1 + ((n_gaps - 1) * p) // 100
       |ORDER BY p""".stripMargin

  // ---------------------------------------------------------------- q212
  /** SESSION-DEPTH QUANTILES PER ENTRY TYPE — how deep sessions go by
    * which door they came in: per entry type, the session count and
    * the exact nearest-rank p50/p90/max of session depth (event
    * count). q192 prices doors by traffic and total depth; q208 says
    * where they END; this gives the depth DISTRIBUTION per door — a
    * door with healthy median but collapsed p90 lost its power users.
    *
    * Determinism: entry via the hash-aggregable `graft_argmax` keyed
    * −ord (q208's selection); nearest-rank depth values depend only
    * on the per-type sorted depths, so the histogram route below is
    * bit-identical to a per-type rank.
    *
    * Scale posture: one per-session aggregate over the memoized
    * [[sessionized]] stage; the quantile cut deliberately does NOT
    * rank the sessions frame (per-type row_number concentrated ~10⁶
    * sessions per type partition — measured ×14 on the 100× event
    * corpus): it aggregates the (entry type, depth) HISTOGRAM first
    * (partial-aggregable; distinct depths are bounded by the longest
    * session) and cuts on cumulative counts over that bounded frame;
    * the report is ≤ 3·|types| rows. */
  private def q212(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(spark)
    val per = sessionized(spark, dir)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        graft.functions.ArgMaxAgg.argMax(struct(negate(col("ord"))),
          col("event_type")).as("entry_type"),
        count(lit(1)).as("depth"))
    val hist = per.groupBy(col("entry_type"), col("depth"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("entry_type")).orderBy(col("depth"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wGrp = Window.partitionBy(col("entry_type"))
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_sessions", sum(col("cnt")).over(wGrp).cast(LongType))
      .select(col("entry_type"), col("depth"), col("cnt"), col("cum"),
        col("n_sessions"),
        explode(array(Seq(50L, 90L, 100L).map(lit): _*)).as("p"))
      .withColumn("target",
        lit(1L) + expr("((n_sessions - 1) * p) div 100"))
      .filter(col("cum") >= col("target") &&
        col("cum") - col("cnt") < col("target"))
      .select(col("entry_type"), col("p"), col("depth"), col("n_sessions"))
      .orderBy(col("entry_type"), col("p"))
  }

  private val q212Sql =
    s"""WITH gaps AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1
       |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM gaps),
       |ord AS (
       |  SELECT user_id, session_id, event_type,
       |    row_number() OVER (PARTITION BY user_id, session_id
       |      ORDER BY ts, event_id) AS ord
       |  FROM sess),
       |per AS (
       |  SELECT user_id, session_id,
       |    max(CASE WHEN ord = 1 THEN event_type END) AS entry_type,
       |    CAST(count(*) AS BIGINT) AS depth
       |  FROM ord GROUP BY 1, 2),
       |ranked AS (
       |  SELECT entry_type, depth, user_id, session_id,
       |    CAST(row_number() OVER (PARTITION BY entry_type
       |      ORDER BY depth, user_id, session_id) AS BIGINT) AS rnk,
       |    CAST(count(*) OVER (PARTITION BY entry_type) AS BIGINT)
       |      AS n_sessions
       |  FROM per)
       |SELECT entry_type, p, depth, n_sessions
       |FROM ranked CROSS JOIN (SELECT unnest([50,90,100]) AS p)
       |WHERE rnk = 1 + ((n_sessions - 1) * p) // 100
       |ORDER BY entry_type, p""".stripMargin

  // ---------------------------------------------------------------- q216
  /** WEEKLY COHORT-RETENTION TRIANGLE — the classic growth chart q64's
    * single-day-grain cohort read generalizes to: cohort = the
    * epoch-week of a user's FIRST event (deterministic calendar-free
    * week: day div 7, day = ts_s div 86400 — q202's floor family);
    * per (cohort week, week offset), the distinct users active that
    * week and the exact retention share against the cohort's size.
    * Rows with offset 0 are the cohort definition (retention 100%);
    * the triangle's columns are what a weekly growth review reads.
    *
    * Determinism: all floors int64; shares micro floor-div.
    *
    * Scale posture: the (user, week) frame is one partial-aggregable
    * distinct off the events scan; first-week is a second
    * user-keyed aggregate; the join is user-keyed (same shuffle key),
    * and the triangle is ≤ weeks² rows. */
  private def q216(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("(CAST(ts AS LONG) div 86400) div 7").as("week"))
      .distinct()
    val first = uw.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_w"))
    val sizes = first.groupBy(col("cohort_w"))
      .agg(count(lit(1)).as("cohort_n"))
    uw.join(first, "user_id")
      .groupBy(col("cohort_w"), (col("week") - col("cohort_w")).as("offset_w"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_w")
      .withColumn("retention_u", expr("(1000000 * n_active) div cohort_n"))
      .select(col("cohort_w"), col("offset_w"), col("cohort_n"),
        col("n_active"), col("retention_u"))
      .orderBy(col("cohort_w"), col("offset_w"))
  }

  private val q216Sql =
    s"""WITH uw AS (
       |  SELECT DISTINCT user_id,
       |    (date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
       |      // 86400) // 7 AS week
       |  FROM events),
       |first AS (
       |  SELECT user_id, min(week) AS cohort_w FROM uw GROUP BY 1),
       |sizes AS (
       |  SELECT cohort_w, count(*) AS cohort_n FROM first GROUP BY 1)
       |SELECT f.cohort_w, u.week - f.cohort_w AS offset_w, s.cohort_n,
       |  count(*) AS n_active,
       |  (1000000 * count(*)) // s.cohort_n AS retention_u
       |FROM uw u
       |JOIN first f ON u.user_id = f.user_id
       |JOIN sizes s ON f.cohort_w = s.cohort_w
       |GROUP BY 1, 2, 3
       |ORDER BY f.cohort_w, offset_w""".stripMargin

  // ---------------------------------------------------------------- q217
  /** LIFETIME-VALUE DECILE TABLE — users ranked by their total event
    * value and cut into ten equal-population deciles: per decile, the
    * user count, the exact summed value (ten-thousandth units — the
    * testdata's value column carries ≤ 2 decimals, so DECIMAL(18,4) ×
    * 10⁴ is exact int64 in both engines), and each decile's share of
    * total value. The concentration read every monetization review
    * starts with (decile 0 owning 60% of value is a whale business;
    * flat deciles a subscription one) — q150's RFM segments describe
    * WHO, this prices HOW MUCH, exactly.
    *
    * Determinism: per-user LTV is an exact decimal sum scaled to
    * int64; deciles by `((rnk−1)·10) div n` over the (ltv desc,
    * user_id) total order — NOT ntile, whose remainders differ in
    * placement across engines' documentation even when equal; shares
    * micro floor-div against the int64 grand total.
    *
    * Scale posture: per-user sums partial-aggregable; the rank window
    * is global over the USERS-sized frame, kept EXACT by default
    * because the oracle pins per-decile membership; under
    * `spark.graft.quantiles.mode=approx` ([[Features.QuantileModeConf]],
    * the q106/q109/q150 discipline) the single-task global sort is
    * replaced by ONE `percentile_approx` aggregate whose nine decile
    * thresholds broadcast back — no global window, bounded memory at
    * any user count (boundary ties then land in the lower-value
    * decile, the documented jitter `QuantileModeSpec` grades); the
    * report is 10 rows either way. */
  private def q217(spark: SparkSession, dir: String): DataFrame = {
    val ltv = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(graft.functions.LimbSum.limbU4(
        graft.functions.LimbSum.u4(col("value")), 4).as("ltv_u"))
    val deciled =
      if (!Features.approxQuantiles(spark)) {
        val wRank = Window.orderBy(col("ltv_u").desc, col("user_id"))
        ltv
          .withColumn("rnk", row_number().over(wRank).cast(LongType))
          .withColumn("n_users",
            count(lit(1)).over(Window.partitionBy()).cast(LongType))
          .withColumn("decile", expr("((rnk - 1) * 10) div n_users"))
      } else {
        // The documented 100 TB swap: nine ascending thresholds
        // (p10..p90) in one aggregate row, broadcast back. Descending
        // deciles ⇒ above p90 is the top decile 0.
        val thr = ltv.agg(percentile_approx(col("ltv_u"),
          array((1 to 9).map(i => lit(i / 10.0)): _*), lit(10000)).as("t"))
        // foldLeft wraps the LAST iteration outermost, so i = 9 (the
        // p90 check, decile 0) must come last to be tested first.
        val d = (1 to 9).foldLeft(lit(9L)) { (acc, i) =>
          when(col("ltv_u") > element_at(col("t"), i), lit((9 - i).toLong))
            .otherwise(acc)
        }
        ltv.crossJoin(broadcast(thr)).withColumn("decile", d)
      }
    deciled
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("ltv_u")).as("sum_value_u"))
      // the grand total now rides the ≤10-row aggregated frame, never a
      // users-frame global window
      .withColumn("total_u",
        sum(col("sum_value_u")).over(Window.partitionBy()))
      // all-zero-value corpus: a 0 grand total must report share 0, not
      // divide by zero (ANSI Spark throws; DuckDB // 0 errors)
      .withColumn("share_u",
        when(col("total_u") === 0L, lit(0L))
          .otherwise(expr("(1000000 * sum_value_u) div total_u")))
      .select(col("decile"), col("n_users"), col("sum_value_u"),
        col("share_u"))
      .orderBy(col("decile"))
  }

  private val q217Sql =
    s"""WITH ltv AS (
       |  SELECT user_id,
       |    CAST(sum(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)
       |      AS ltv_u
       |  FROM events GROUP BY 1),
       |ranked AS (
       |  SELECT ltv_u,
       |    CAST(row_number() OVER (ORDER BY ltv_u DESC, user_id)
       |      AS BIGINT) AS rnk,
       |    CAST(count(*) OVER () AS BIGINT) AS n_users,
       |    CAST(sum(ltv_u) OVER () AS BIGINT) AS total_u
       |  FROM ltv)
       |SELECT ((rnk - 1) * 10) // n_users AS decile,
       |  count(*) AS n_users, CAST(sum(ltv_u) AS BIGINT) AS sum_value_u,
       |  CASE WHEN total_u = 0 THEN 0 ELSE
       |    (1000000 * CAST(sum(ltv_u) AS BIGINT)) // total_u END AS share_u
       |FROM ranked
       |GROUP BY 1, total_u
       |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- q221
  /** ERROR-STREAK HISTOGRAM — gaps-and-islands over each user's event
    * sequence: maximal runs of CONSECUTIVE `error` events (island key
    * = global ordinal − per-type ordinal, the classic RLE identity),
    * reported as a run-length histogram with the users affected at
    * each length. One error is noise; a 5-run is a stuck client or a
    * hard-down endpoint — q65's rate monitor sees the hourly volume,
    * q191's kernel the error→error self-loop PROBABILITY; this reads
    * the actual burst lengths an on-call review wants.
    *
    * Determinism: both ordinals under the (ts, event_id) total order;
    * all counts int64.
    *
    * Scale posture: two stacked windows on the SAME user partition
    * key (one shuffle), then a per-island aggregate and a ≤max-run-
    * length histogram — nothing corpus-global. */
  private def q221(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val byUserType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val runs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(byUser).cast("long"))
      .withColumn("rt", row_number().over(byUserType).cast("long"))
      .filter(col("event_type") === "error")
      .groupBy(col("user_id"), (col("rn") - col("rt")).as("island"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("run_len"))
      .agg(count(lit(1)).as("n_runs"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("run_len"))
  }

  private val q221Sql =
    s"""WITH seq AS (
       |  SELECT user_id, event_type,
       |    CAST(row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS BIGINT) AS rn,
       |    CAST(row_number() OVER (PARTITION BY user_id, event_type
       |      ORDER BY ts, event_id) AS BIGINT) AS rt
       |  FROM events),
       |runs AS (
       |  SELECT user_id, rn - rt AS island, count(*) AS run_len
       |  FROM seq WHERE event_type = 'error' GROUP BY 1, 2)
       |SELECT run_len, count(*) AS n_runs,
       |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM runs GROUP BY 1
       |ORDER BY run_len""".stripMargin

  // ---------------------------------------------------------------- q223
  /** INTER-ARRIVAL TAIL QUANTILES PER TYPE — the tail complement of
    * q201's dispersion: per event type, exact nearest-rank
    * p50/p90/p99/max of the inter-arrival gap (q201's exact-mode gap
    * definition — the per-type (ts, event_id) order at second grain).
    * CV says HOW bursty; the p99 says how long the worst quiet
    * stretches actually get — the number a freshness SLO or a
    * dead-feed alarm threshold is set from.
    *
    * Determinism: same gap definition as q201's oracle-pinned exact
    * mode; nearest-rank values depend only on sorted gaps, so the
    * histogram route is exact.
    *
    * Scale posture: the gap lag shares q201's type-partitioned window
    * AND its production knob: `spark.graft.cadence.mode = segmented`
    * partitions the lag by (type, UTC day) here exactly as in q201,
    * dropping only the midnight-boundary gaps (one session conf moves
    * both cadence readers together — a split-brain gap definition
    * between the CV and its tail table would be worse than either
    * mode); the quantile cut rides the (type, gap) HISTOGRAM —
    * q211/q212's measured scale-safe shape — never a rank over the
    * gaps frame. Default exact, oracle-pinned. */
  private def q223(spark: SparkSession, dir: String): DataFrame = {
    val w =
      if (cadenceSegmented(spark))
        Window.partitionBy(col("event_type"), expr("ts_s div 86400"))
          .orderBy(col("ts"), col("event_id"))
      else
        Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("ts"))
      .withColumn("ts_s", col("ts").cast(LongType))
      .withColumn("gap_s", col("ts_s") - lag(col("ts_s"), 1).over(w))
      .filter(col("gap_s").isNotNull)
    val hist = gaps.groupBy(col("event_type"), col("gap_s"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("gap_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wGrp = Window.partitionBy(col("event_type"))
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_gaps", sum(col("cnt")).over(wGrp).cast(LongType))
      .select(col("event_type"), col("gap_s"), col("cnt"), col("cum"),
        col("n_gaps"),
        explode(array(Seq(50L, 90L, 99L, 100L).map(lit): _*)).as("p"))
      .withColumn("target", lit(1L) + expr("((n_gaps - 1) * p) div 100"))
      .filter(col("cum") >= col("target") &&
        col("cum") - col("cnt") < col("target"))
      .select(col("event_type"), col("p"), col("gap_s"), col("n_gaps"))
      .orderBy(col("event_type"), col("p"))
  }

  private val q223Sql =
    s"""WITH gaps AS (
       |  SELECT event_type,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |hist AS (
       |  SELECT event_type, gap_s, count(*) AS cnt
       |  FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1, 2),
       |cums AS (
       |  SELECT event_type, gap_s, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY gap_s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
       |      AS n_gaps
       |  FROM hist)
       |SELECT event_type, p, gap_s, n_gaps
       |FROM cums CROSS JOIN (SELECT unnest([50,90,99,100]) AS p)
       |WHERE cum >= 1 + ((n_gaps - 1) * p) // 100
       |  AND cum - cnt < 1 + ((n_gaps - 1) * p) // 100
       |ORDER BY event_type, p""".stripMargin

  // ---------------------------------------------------------------- q229
  /** ENTRY-DOOR VALUE ATTRIBUTION — which landing type drives the
    * money: each session's full value attributed to its ENTRY event
    * type (last-touch q156 answers "which touch gets conversion
    * credit"; this is the session-level first-touch read on raw event
    * value). Per entry type: sessions, exact summed value, value per
    * session, and the share of total value. Read next to q192
    * (traffic) and q212 (depth): a door with thin traffic but fat
    * value share is the one the homepage redesign must not bury.
    *
    * Determinism: entry via hash-aggregable `graft_argmax` (q208's
    * selection); value sums exact DECIMAL(18,4)·10⁴ int64 units
    * (q217's recipe); shares micro floor-div.
    *
    * Scale posture: one per-session aggregate over the memoized
    * [[sessionized]] stage joined 1:1 back to per-session value sums
    * — same groupBy key, one shuffle; ≤|types| report rows with the
    * grand total as a 1-row broadcast window. */
  private def q229(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.ensureRegistered(spark)
    val withValue = sessionized(spark, dir)
      .join(Tables.events(spark, dir).select(col("event_id"), col("value")),
        "event_id")
    val per = withValue
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        graft.functions.ArgMaxAgg.argMax(struct(negate(col("ord"))),
          col("event_type")).as("entry_type"),
        graft.functions.LimbSum.limbU4(
          graft.functions.LimbSum.u4(col("value")), 4).as("value_u"))
    per.groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("value_u")).as("sum_value_u"))
      .withColumn("total_u",
        sum(col("sum_value_u")).over(Window.partitionBy()))
      .withColumn("value_per_session_u", expr("sum_value_u div n_sessions"))
      .withColumn("share_u",
        when(col("total_u") === 0L, lit(0L))
          .otherwise(expr("(1000000 * sum_value_u) div total_u")))
      .select(col("entry_type"), col("n_sessions"), col("sum_value_u"),
        col("value_per_session_u"), col("share_u"))
      .orderBy(col("share_u").desc, col("entry_type"))
  }

  private val q229Sql =
    s"""WITH gaps AS (
       |  SELECT user_id, event_id, ts, event_type, value,
       |    date_diff('second',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      ts) AS gap_s
       |  FROM events),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type, value,
       |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1
       |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM gaps),
       |ord AS (
       |  SELECT user_id, session_id, event_type, value,
       |    row_number() OVER (PARTITION BY user_id, session_id
       |      ORDER BY ts, event_id) AS ord
       |  FROM sess),
       |per AS (
       |  SELECT user_id, session_id,
       |    max(CASE WHEN ord = 1 THEN event_type END) AS entry_type,
       |    CAST(sum(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)
       |      AS value_u
       |  FROM ord GROUP BY 1, 2),
       |agg AS (
       |  SELECT entry_type, count(*) AS n_sessions,
       |    CAST(sum(value_u) AS BIGINT) AS sum_value_u
       |  FROM per GROUP BY 1)
       |SELECT entry_type, n_sessions, sum_value_u,
       |  sum_value_u // n_sessions AS value_per_session_u,
       |  CASE WHEN (SELECT CAST(sum(sum_value_u) AS BIGINT) FROM agg) = 0
       |    THEN 0 ELSE (1000000 * sum_value_u) //
       |    (SELECT CAST(sum(sum_value_u) AS BIGINT) FROM agg) END AS share_u
       |FROM agg
       |ORDER BY share_u DESC, entry_type""".stripMargin

  // ---------------------------------------------------------------- q235
  /** PEAK SESSION CONCURRENCY — the capacity-planning read the session
    * family lacked: per day, the maximum number of SIMULTANEOUSLY
    * open sessions, measured exactly at session-boundary instants
    * (the classic interval-stabbing +1/−1 sweep). q20 counts events
    * per hour and q192 counts sessions per entry type; neither says
    * how many sessions are OPEN at once — the number a connection
    * pool, a state-store, or a streaming watermark budget must be
    * sized for.
    *
    * Semantics: a session is open through its last event's second
    * (inclusive), so the −1 lands at `end_s + 1`; per-second deltas
    * aggregate first (ties collapse — no intra-second ordering
    * ambiguity), and the running concurrency is the global prefix sum
    * of net deltas. Peak per day = max over that day's boundary
    * seconds; days with zero boundaries have no open-session change
    * and no row, by definition.
    *
    * Scale posture: the GLOBAL running sum is a two-phase sharded
    * prefix sum — per-day RANGE-framed windows (peers of a second
    * aggregate together, which IS the tie collapse), then per-day
    * totals cumulated in a window over the bounded |days| frame — so
    * no single-task global sort over the event stream exists at any
    * event count (the q211 hazard class this suite retired), and the
    * result is bit-identical to the naive collapse-then-window form.
    * The boundary stream is consumed ONCE: day totals, the intra-day
    * running-sum max, and start counts all come out of the single
    * post-window aggregate. Everything upstream rides the memoized
    * [[sessionized]] stage's one user-keyed shuffle. */
  private def q235(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionized(spark, dir)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_s")).as("start_s"), max(col("ts_s")).as("end_s"))
    // r17 rewrite (second iteration; the first one REGRESSED 1.47 →
    // 1.71 s at sf0.1 because its unionAll delta stream + two prefix-
    // sum consumers + separate starts leg computed the bounds
    // aggregate FIVE times — AQE does not dedupe subtrees that read a
    // cached relation). Everything now derives from ONE pass over the
    // boundary stream:
    //  - deltas come from sess via EXPLODE (one subtree), not a
    //    unionAll of two selects (two subtrees);
    //  - tie collapse stays INSIDE the window: the RANGE frame
    //    aggregates all peer rows of the current t together, so every
    //    delta row at second t reads the identical post-collapse
    //    running sum — bit-identical to a groupBy(t)-then-window form
    //    (the day-level max sees the same per-second values, just
    //    duplicated);
    //  - the per-day shard total (day_tot), the intra-day running-sum
    //    max (max_run), and the start count all fold into the SAME
    //    post-window aggregate: max(off + run) = off + max(run)
    //    because the cross-day offset is constant within a day, and a
    //    day's session starts are exactly its d > 0 boundary rows. The
    //    |days|-row cumulative-offset window is the only global sort
    //    and it runs over a bounded frame (~|days| rows at any scale).
    val deltas = sess
      .select(explode(array(
        struct(col("start_s").as("t"), lit(1L).as("d")),
        struct((col("end_s") + 1L).as("t"), lit(-1L).as("d")))).as("b"))
      .select(col("b.t").as("t"), col("b.d").as("d"))
      .withColumn("day", expr("t div 86400"))
    val wIn = Window.partitionBy(col("day")).orderBy(col("t"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wDays = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    deltas
      .withColumn("run", sum(col("d")).over(wIn))
      .groupBy(col("day"))
      .agg(max(col("run")).as("max_run"),
        sum(col("d")).as("day_tot"),
        sum(when(col("d") > 0L, 1L).otherwise(0L)).as("n_session_starts"))
      .withColumn("off", coalesce(sum(col("day_tot")).over(wDays), lit(0L)))
      .select(col("day"),
        (col("off") + col("max_run")).as("peak_concurrent"),
        col("n_session_starts"))
      .orderBy(col("day"))
  }

  private val q235Sql =
    s"""WITH sess AS (
       |  SELECT user_id, session_id,
       |    min(ts_s) AS start_s, max(ts_s) AS end_s
       |  FROM (
       |    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       |      CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1
       |        ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        AS session_id
       |    FROM (
       |      SELECT user_id, event_id, ts,
       |        date_diff('second',
       |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |          ts) AS gap_s
       |      FROM events))
       |  GROUP BY 1, 2),
       |deltas AS (
       |  SELECT t, CAST(sum(d) AS BIGINT) AS net,
       |    CAST(sum(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT)
       |      AS n_starts
       |  FROM (
       |    SELECT start_s AS t, 1 AS d FROM sess
       |    UNION ALL
       |    SELECT end_s + 1, -1 FROM sess)
       |  GROUP BY t),
       |cum AS (
       |  SELECT t, n_starts,
       |    CAST(sum(net) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS open_now
       |  FROM deltas)
       |SELECT t // 86400 AS day,
       |  max(open_now) AS peak_concurrent,
       |  CAST(sum(n_starts) AS BIGINT) AS n_session_starts
       |FROM cum
       |GROUP BY 1
       |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q236
  /** USER-ACTIVITY CONCENTRATION (Gini) — is each event stream driven
    * by a broad base or a handful of power users? Per event type: the
    * exact Gini coefficient of events-per-user and the share of the
    * type's volume generated by its most-active decile of users. The
    * user-side twin of q164's token-mass Gini (docs per source) and
    * the distributional read behind q99's heavy hitters — a
    * bot-farmed type shows Gini → 1 with a fat top-decile share;
    * organic engagement sits far lower.
    *
    * Determinism: the rank-weighted sum Σ i·xᵢ is computed from the
    * activity-level HISTOGRAM, not a per-user rank window: for each
    * distinct activity level x with frequency f and users-below c,
    * the tie block contributes x·(f·c + f(f+1)/2) exactly — ties
    * share rank mass identically in both engines, no per-user
    * ordering needed. Σi·x and the Gini/top-decile numerators ride
    * DECIMAL(38,0) (HUGEINT in the oracle): six reaches
    * n_users·n_events and 10⁶× it overflows int64 past ~9·10¹²
    * micro-units — the same warehouse-scale cliff q242/q244 widened
    * for; shares micro floor-div.
    *
    * Scale posture: one (type, user) count aggregate (the only
    * corpus-sized shuffle), collapsed to the ≤|types|·|levels|
    * histogram; every window runs over that bounded frame
    * (aggregate-below — census-whitelisted by construction). */
  private def q236(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("x"))
    val hist = counts.groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("f"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("event_type"))
    hist
      .withColumn("c", sum(col("f")).over(wCum) - col("f"))
      .withColumn("n", sum(col("f")).over(wAll))
      .withColumn("total", sum(col("x") * col("f")).over(wAll))
      .withColumn("ix",
        expr("""CAST(x AS DECIMAL(38,0)) *
               (CAST(f AS DECIMAL(38,0)) * c + (f * (f + 1)) div 2)"""))
      .withColumn("topk", expr("(n + 9) div 10"))
      .withColumn("in_top",
        greatest(lit(0L),
          least(col("c") + col("f"), col("n")) -
            greatest(col("c"), col("n") - col("topk"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_users"),
        max(col("total")).as("n_events"),
        sum(col("ix")).as("six"),
        sum(col("in_top") * col("x")).as("top_mass"))
      .select(col("event_type"), col("n_users"), col("n_events"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) *
             (2 * six - (CAST(n_users AS DECIMAL(38,0)) + 1) *
              CAST(n_events AS DECIMAL(38,0))))
             div (CAST(n_users AS DECIMAL(38,0)) *
              CAST(n_events AS DECIMAL(38,0))) AS BIGINT)""").as("gini_u"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * top_mass)
             div n_events AS BIGINT)""").as("top_decile_share_u"))
      .orderBy(col("gini_u").desc, col("event_type"))
  }

  private val q236Sql =
    s"""WITH counts AS (
       |  SELECT event_type, user_id, count(*) AS x
       |  FROM events GROUP BY 1, 2),
       |hist AS (
       |  SELECT event_type, x, count(*) AS f
       |  FROM counts GROUP BY 1, 2),
       |cums AS (
       |  SELECT event_type, x, f,
       |    CAST(sum(f) OVER (PARTITION BY event_type ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - f
       |      AS BIGINT) AS c,
       |    CAST(sum(f) OVER (PARTITION BY event_type) AS BIGINT) AS n,
       |    CAST(sum(x * f) OVER (PARTITION BY event_type) AS BIGINT)
       |      AS total
       |  FROM hist)
       |SELECT event_type,
       |  max(n) AS n_users,
       |  max(total) AS n_events,
       |  CAST((1000000 * (2 * sum(CAST(x AS HUGEINT) *
       |        (CAST(f AS HUGEINT) * c + (f * (f + 1)) // 2))
       |      - (CAST(max(n) AS HUGEINT) + 1) * CAST(max(total) AS HUGEINT)))
       |    // (CAST(max(n) AS HUGEINT) * CAST(max(total) AS HUGEINT))
       |    AS BIGINT) AS gini_u,
       |  CAST((1000000 * sum(CAST(GREATEST(0, LEAST(c + f, n) -
       |      GREATEST(c, n - (n + 9) // 10)) * x AS HUGEINT)))
       |    // CAST(max(total) AS HUGEINT) AS BIGINT) AS top_decile_share_u
       |FROM cums
       |GROUP BY event_type
       |ORDER BY gini_u DESC, event_type""".stripMargin

  // ---------------------------------------------------------------- q243
  /** WEEKDAY SEASONALITY PROFILE — the weekly structure q199's lag-24
    * HOURLY autocorrelation can't see: per event type, the
    * day-of-week histogram, the peak day and its micro-share, and an
    * exact chi-square statistic against the uniform-weekday null —
    * organic human traffic has a weekly pulse (χ² ≫ 0 with a weekend
    * or weekday peak); machine feeds are flat (χ² ≈ 0); a χ²
    * explosion on one day is a batch-job signature.
    *
    * Determinism: day-of-week from epoch days ((day + 4) mod 7,
    * Thursday-anchored — Spark's `dayofweek` and DuckDB's `dow` use
    * DIFFERENT numbering, so neither appears); χ² = Σ(7·obs − n)² /
    * (7n) in micro units with DECIMAL(38,0) squares (a 10¹²-event
    * type would overflow int64); peak day by (count, dow) rank over
    * the 7-row-per-type aggregate.
    *
    * Scale posture: ONE partial-aggregable (type, dow) aggregate —
    * ≤7·|types| cells; every window runs over that bounded frame. */
  private def q243(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("((CAST(ts AS LONG) div 86400) + 4) % 7").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("cnt"))
    val wType = Window.partitionBy(col("event_type"))
    val wPeak = Window.partitionBy(col("event_type"))
      .orderBy(col("cnt").desc, col("dow"))
    cells
      .withColumn("n", sum(col("cnt")).over(wType))
      .withColumn("rnk", row_number().over(wPeak))
      .withColumn("d", lit(7L) * col("cnt") - col("n"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        max(when(col("rnk") === 1, col("dow"))).as("peak_dow"),
        max(when(col("rnk") === 1,
          expr("(1000000 * cnt) div n"))).as("peak_share_u"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))"))
          .as("sum_d2"))
      .withColumn("chi2_u",
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * sum_d2)
               div (7 * CAST(n_events AS DECIMAL(38,0))) AS BIGINT)"""))
      .select(col("event_type"), col("n_events"), col("peak_dow"),
        col("peak_share_u"), col("chi2_u"))
      .orderBy(col("event_type"))
  }

  private val q243Sql =
    s"""WITH cells AS (
       |  SELECT event_type,
       |    ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7 AS dow,
       |    count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |ranked AS (
       |  SELECT event_type, dow, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY cnt DESC, dow) AS rnk
       |  FROM cells)
       |SELECT event_type,
       |  max(n) AS n_events,
       |  max(CASE WHEN rnk = 1 THEN dow END) AS peak_dow,
       |  max(CASE WHEN rnk = 1 THEN (1000000 * cnt) // n END)
       |    AS peak_share_u,
       |  CAST((1000000 * sum(CAST(7 * cnt - n AS HUGEINT)
       |      * CAST(7 * cnt - n AS HUGEINT)))
       |    // (7 * CAST(max(n) AS HUGEINT)) AS BIGINT) AS chi2_u
       |FROM ranked
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q248
  /** DATE-WINDOWED ACTIVITY REPORT — q20's hourly/daily read bounded
    * to an analysis window, THE dashboard query a warehouse runs
    * hourly: per (day, type) counts and exact decimal value mass for
    * one week. Functionally a filtered q20; structurally it exists to
    * exercise the date-PARTITIONED layout: the `day` bounds ride
    * [[graft.Tables.eventsDated]], so on `events_part` the filter is
    * `PartitionFilters` — the scan never LISTS the out-of-window day
    * directories. At 10¹¹-event scale that is the difference between
    * reading 7 days and scanning the full log (the ScaleBench `dpp`
    * phase measures it; PlanShapeSpec pins the pruned scan). On flat
    * testdata `day` is a derived projection — same rows, so one oracle
    * covers both layouts.
    *
    * Determinism: whole-day DATE bounds (exactly translatable to ts
    * bounds); day reported as epoch days; dsum decimal value mass. */
  private def q248(spark: SparkSession, dir: String): DataFrame = {
    Tables.eventsDated(spark, dir)
      .filter(col("day") >= lit("2024-01-08").cast("date") &&
        col("day") <= lit("2024-01-14").cast("date"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(
        expr("CAST(CAST(day AS TIMESTAMP) AS LONG) div 86400").as("day"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  private val q248Sql =
    s"""SELECT date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
       |    CAST(CAST(ts AS DATE) AS TIMESTAMP)) // 86400 AS day,
       |  event_type, count(*) AS n_events,
       |  ${d2dSql("sum(CAST(value AS DECIMAL(18,4)))")} AS sum_value
       |FROM events
       |WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
       |  AND CAST(ts AS DATE) <= DATE '2024-01-14'
       |GROUP BY 1, 2
       |ORDER BY day, event_type""".stripMargin

  // ---------------------------------------------------------------- q249
  /** PEAK-DAY DRILLDOWN — the find-then-drill read behind every
    * incident review: rank days by purchase volume, take the top 3,
    * and pull the FULL activity profile of just those days (all-type
    * event count, distinct users, decimal value mass). The ranking leg
    * aggregates the whole log to |days| rows; the drill leg re-reads
    * only the chosen days — and on the date-partitioned layout that
    * re-read is DYNAMIC PARTITION PRUNING: the 3-row broadcast of hot
    * days becomes a `dynamicpruningexpression` in the drill scan's
    * PartitionFilters, so the second pass over a 10¹¹-event log lists
    * 3 day-directories instead of re-scanning everything. Flat
    * testdata runs the same plan as a plain broadcast join — one
    * oracle, both layouts (PlanShapeSpec pins the DPP subquery on a
    * partitioned mini-layout).
    *
    * Determinism: top-3 by (n_purchases desc, day) — a total order;
    * users via a (day, user) ladder (one distinct leg would also be
    * Expand-free, but the ladder keeps every stage partial-
    * aggregable); day as epoch days; dsum value mass. */
  private def q249(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsDated(spark, dir)
    val hot = ev.filter(col("event_type") === "purchase")
      .groupBy(col("day")).agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("n_purchases").desc, col("day"))
      .limit(3)
      .select(col("day").as("hot_day"), col("n_purchases"))
    ev.join(broadcast(hot), col("day") === col("hot_day"))
      .groupBy(col("day"), col("user_id"))
      // inner mass stays EXACT decimal — only the final report row
      // converts to double (one IEEE rounding in both engines)
      .agg(max(col("n_purchases")).as("n_purchases"),
        count(lit(1)).as("n"),
        graft.functions.LimbSum.limbStruct(
          graft.functions.LimbSum.u4(col("value"))).as("v"))
      .groupBy(col("day"))
      .agg(max(col("n_purchases")).as("n_purchases"),
        sum(col("n")).as("n_events"),
        count(lit(1)).as("n_users"),
        graft.functions.LimbSum.limbFin(col("v"), 4).as("sum_value"))
      .select(
        expr("CAST(CAST(day AS TIMESTAMP) AS LONG) div 86400").as("day"),
        col("n_purchases"), col("n_events"), col("n_users"),
        col("sum_value"))
      .orderBy(col("day"))
  }

  private val q249Sql =
    s"""WITH hot AS (
       |  SELECT CAST(ts AS DATE) AS hot_day, count(*) AS n_purchases
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY 1 ORDER BY n_purchases DESC, hot_day LIMIT 3),
       |pu AS (
       |  SELECT CAST(ts AS DATE) AS day, user_id, max(n_purchases)
       |      AS n_purchases,
       |    count(*) AS n, sum(CAST(value AS DECIMAL(18,4))) AS v
       |  FROM events JOIN hot ON CAST(ts AS DATE) = hot_day
       |  GROUP BY 1, 2)
       |SELECT date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
       |    CAST(day AS TIMESTAMP)) // 86400 AS day,
       |  max(n_purchases) AS n_purchases,
       |  CAST(sum(n) AS BIGINT) AS n_events,
       |  count(*) AS n_users,
       |  ${d2dSql("sum(v)")} AS sum_value
       |FROM pu
       |GROUP BY day
       |ORDER BY day""".stripMargin

  val queries: Map[String, Q] = Map(
    "q248_window_report" -> (q248 _),
    "q249_peak_day_drill" -> (q249 _),
    "q235_peak_concurrency" -> (q235 _),
    "q236_user_gini" -> (q236 _),
    "q243_weekday_profile" -> (q243 _),
    "q229_entry_value" -> (q229 _),
    "q223_gap_tail_quantiles" -> (q223 _),
    "q221_error_streaks" -> (q221 _),
    "q216_weekly_cohorts" -> (q216 _),
    "q217_ltv_deciles" -> (q217 _),
    "q210_session_paths" -> (q210 _),
    "q211_return_latency" -> (q211 _),
    "q212_depth_by_entry" -> (q212 _),
    "q208_entry_exit" -> (q208 _),
    "q205_seq_support" -> (q205 _),
    "q206_conversion_latency" -> (q206 _),
    "q207_dwell_share" -> (q207 _),
    "q200_period_scan" -> (q200 _),
    "q201_cadence_cv" -> (q201 _),
    "q202_growth_accounting" -> (q202 _),
    "q203_session_funnel" -> (q203 _),
    "q194_survival" -> (q194 _),
    "q195_stationary" -> (q195 _),
    "q199_seasonality" -> (q199 _),
    "q191_event_transitions" -> (q191 _),
    "q192_entry_sessions" -> (q192 _),
    "q184_cusum_shift" -> (q184 _),
    "q155_event_debounce" -> (q155 _),
    "q156_touch_attribution" -> (q156 _),
    "q149_event_pairs"  -> (q149 _),
    "q152_mad_outliers" -> (q152 _),
    "q150_rfm_segments" -> (q150 _),
    "q145_scd2_intervals" -> (q145 _),
    "q147_state_attribution" -> (q147 _),
    "q148_scd2_incremental" -> (q148 _),
    "q93_trending"      -> (q93 _),
    "q65_rate_anomaly"  -> (q65 _),
    "q63_funnel_daily"  -> (q63 _),
    "q64_retention"     -> (q64 _),
    "q20_hourly_events" -> (q20 _),
    "q21_user_pivot"    -> (q21 _),
    "q22_event_gaps"    -> (q22 _),
    "q23_first_event"   -> (q23 _),
    "q24_json_buckets"  -> (q24 _),
    "q25_sessionize"    -> (q25 _),
    "q52_asof_join"     -> (q52 _),
    "q53_range_join"    -> (q53 _))

  val oracles: Map[String, String] = Map(
    "q248_window_report" -> q248Sql,
    "q249_peak_day_drill" -> q249Sql,
    "q235_peak_concurrency" -> q235Sql,
    "q236_user_gini" -> q236Sql,
    "q243_weekday_profile" -> q243Sql,
    "q229_entry_value" -> q229Sql,
    "q223_gap_tail_quantiles" -> q223Sql,
    "q221_error_streaks" -> q221Sql,
    "q216_weekly_cohorts" -> q216Sql,
    "q217_ltv_deciles" -> q217Sql,
    "q210_session_paths" -> q210Sql,
    "q211_return_latency" -> q211Sql,
    "q212_depth_by_entry" -> q212Sql,
    "q208_entry_exit" -> q208Sql,
    "q205_seq_support" -> q205Sql,
    "q206_conversion_latency" -> q206Sql,
    "q207_dwell_share" -> q207Sql,
    "q200_period_scan" -> q200Sql,
    "q201_cadence_cv" -> q201Sql,
    "q202_growth_accounting" -> q202Sql,
    "q203_session_funnel" -> q203Sql,
    "q194_survival" -> q194Sql,
    "q195_stationary" -> q195Sql,
    "q199_seasonality" -> q199Sql,
    "q191_event_transitions" -> q191Sql,
    "q192_entry_sessions" -> q192Sql,
    "q184_cusum_shift" -> q184Sql,
    "q155_event_debounce" -> q155Sql,
    "q156_touch_attribution" -> q156Sql,
    "q149_event_pairs"  -> q149Sql,
    "q152_mad_outliers" -> q152Sql,
    "q150_rfm_segments" -> q150Sql,
    "q145_scd2_intervals" -> q145Sql,
    "q147_state_attribution" -> q147Sql,
    // incremental merge == full rebuild, by construction: shares the q145 oracle.
    "q148_scd2_incremental" -> q145Sql,
    "q93_trending"      -> q93Sql,
    "q65_rate_anomaly"  -> q65Sql,
    "q63_funnel_daily"  -> q63Sql,
    "q64_retention"     -> q64Sql,
    "q20_hourly_events" -> q20Sql,
    "q21_user_pivot"    -> q21Sql,
    "q22_event_gaps"    -> q22Sql,
    "q23_first_event"   -> q23Sql,
    "q24_json_buckets"  -> q24Sql,
    "q25_sessionize"    -> q25Sql,
    "q52_asof_join"     -> q52Sql,
    "q53_range_join"    -> q53Sql)
}
