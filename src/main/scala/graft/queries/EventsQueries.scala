package graft.queries

import graft.{QueryPack, Tables}
import graft.QueryPack.{dec, fround, money}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's ingest/analytics dataflow re-expressed over the
  * driver's `events` table (event_id, ts, user_id, event_type, value,
  * props-JSON) — `events` plays FactEvent (FIXTURES.md §5 mapping).
  *
  * Coverage vs SURVEY.md §2: scoreboard goal/pace/color (A3-A5),
  * JSON boundary parsing (P1), calendar derivation (P11), first-wins
  * dedup (D1), ledger anti-join replay (D2), pivot, sessionization,
  * as-of join.
  *
  * Timestamp convention: graft.Tables adapts to whatever physical
  * encoding the driver wrote (`TIMESTAMP(NANOS)` read as long, or
  * µs-precision timestamps) and always exposes epoch-nanos `ts_ns` +
  * a µs TIMESTAMP `ts`. All instants compared or emitted go through
  * microsecond longs — `unix_micros(ts)` / `epoch_ns(ts)//1000` — or
  * day/hour truncation, so both engines see identical values.
  *
  * Scale notes (100 TB): every aggregation is a partial+final hash
  * agg keyed on low-skew keys; the goal dim is a 5-row broadcast;
  * windows partition by user_id (high-cardinality ⇒ parallel); the
  * as-of join pre-filters both sides before the range condition.
  */
object EventsQueries extends QueryPack {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")

  /** Goal dim: the DimMetric analog (MetricID, DefaultGoal,
    * DefaultYellowFloorPct — FIXTURES.md §4), sized to the synthetic
    * per-user daily volumes. */
  private def goals(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("click", 2L, 0.85), ("view", 2L, 0.85), ("signup", 2L, 0.85),
      ("purchase", 1L, 0.90), ("error", 1L, 0.80)
    ).toDF("event_type", "goal", "yellow_floor")
  }

  private val goalsSqlValues =
    """(VALUES ('click',2,0.85),('view',2,0.85),('signup',2,0.85),
      |        ('purchase',1,0.90),('error',1,0.80))
      |  AS g(event_type, goal, yellow_floor)""".stripMargin

  /** e1 — agent scoreboard (SURVEY §2.5 A3+A4+A5): count events per
    * (user, day, type), join the goal dim (broadcast), compute
    * %-of-goal and the GREEN/YELLOW/RED bucket. */
  private def e1(s: SparkSession, dir: String): DataFrame = {
    val counts = ev(s, dir)
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).cast("date").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    counts.join(broadcast(goals(s)), "event_type")
      .withColumn("pct_goal",
        fround(col("n_events").cast("double") / col("goal").cast("double"), 6))
      .withColumn("color",
        when(col("pct_goal") >= 1.0, "GREEN")
          .when(col("pct_goal") >= col("yellow_floor"), "YELLOW")
          .otherwise("RED"))
      .select(col("user_id"), col("day"), col("event_type"), col("n_events"),
        col("pct_goal"), col("color"))
      .orderBy(col("user_id"), col("day"), col("event_type"))
  }

  private val e1Sql =
    s"""SELECT user_id, CAST(ts AS DATE) AS day, events.event_type,
      |  COUNT(*) AS n_events,
      |  FLOOR(CAST(COUNT(*) AS DOUBLE) / g.goal * 1e6 + 0.5) / 1e6 AS pct_goal,
      |  CASE WHEN FLOOR(CAST(COUNT(*) AS DOUBLE) / g.goal * 1e6 + 0.5) / 1e6 >= 1.0 THEN 'GREEN'
      |       WHEN FLOOR(CAST(COUNT(*) AS DOUBLE) / g.goal * 1e6 + 0.5) / 1e6 >= g.yellow_floor THEN 'YELLOW'
      |       ELSE 'RED' END AS color
      |FROM events
      |JOIN $goalsSqlValues ON events.event_type = g.event_type
      |GROUP BY user_id, CAST(ts AS DATE), events.event_type, g.goal, g.yellow_floor
      |ORDER BY user_id, day, events.event_type""".stripMargin

  /** e2 — JSON boundary parsing (SURVEY §2.2 P1): extract `props.k`
    * from the raw JSON column, aggregate per type. */
  private def e2(s: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    ev(s, dir)
      .withColumn("k", k)
      .groupBy(col("event_type"))
      .agg(
        sum(col("k")).as("sum_k"),
        fround(sum(col("k")).cast("double") / count(col("k")), 6).as("avg_k"),
        sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"))
      .orderBy(col("event_type"))
  }

  private val e2Sql =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  FLOOR(CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
      |        / COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) * 1e6 + 0.5) / 1e6 AS avg_k,
      |  CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** e3 — calendar-window filter + hourly rollup (SURVEY §2.9
    * "windows" are calendar filters, not streaming windows): one ISO
    * week of activity bucketed by hour. */
  private def e3(s: SparkSession, dir: String): DataFrame = {
    // ranged read: the week bounds filter the PHYSICAL ts column so
    // they push to the parquet scan (PlanAuditSpec locks this)
    Tables.events(s, dir, from = Some("2024-01-08"), until = Some("2024-01-15"))
      .groupBy(date_trunc("HOUR", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        money(sum(dec(col("value")))).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  private val e3Sql =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      |  AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      |GROUP BY date_trunc('hour', ts), event_type
      |ORDER BY hour, event_type""".stripMargin

  /** e4 — first-wins within-batch dedup (SURVEY §2.4 D1): exactly one
    * surviving row per (user, type, day), chosen by arrival order
    * (ts, then event_id) — the reference's order-preserving Set scan
    * as a rank-per-key window. */
  private def e4(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"),
        date_trunc("DAY", col("ts")).cast("date"))
      .orderBy(col("tsu"), col("event_id"))
    ev(s, dir)
      .withColumn("tsu", unix_micros(col("ts")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type"),
        date_trunc("DAY", col("ts")).cast("date").as("day"),
        col("event_id"), col("tsu"))
      .orderBy(col("user_id"), col("event_type"), col("day"))
  }

  private val e4Sql =
    """SELECT user_id, event_type, day, event_id, tsu
      |FROM (
      |  SELECT user_id, event_type, CAST(ts AS DATE) AS day, event_id,
      |    epoch_ns(ts)//1000 AS tsu,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE)
      |                       ORDER BY epoch_ns(ts)//1000, event_id) AS rk
      |  FROM events) t
      |WHERE rk = 1
      |ORDER BY user_id, event_type, day""".stripMargin

  /** e5 — cross-request ledger dedup, batch replay shape (SURVEY §2.4
    * D2): the ledger is every (user, type) key seen on day 1; day-2
    * events anti-join it, so only first-ever keys pass the gate. */
  private def e5(s: SparkSession, dir: String): DataFrame = {
    // both slices are selective day ranges — read them ranged so the
    // bounds push to the scan instead of filtering derived ts_ns
    val ledger = Tables.events(s, dir, until = Some("2024-01-02"))
      .select(col("user_id"), col("event_type")).distinct()
    Tables.events(s, dir, from = Some("2024-01-02"), until = Some("2024-01-03"))
      .join(ledger, Seq("user_id", "event_type"), "left_anti")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_new"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  private val e5Sql =
    """SELECT event_type, COUNT(*) AS n_new, COUNT(DISTINCT user_id) AS n_users
      |FROM events e
      |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
      |  AND ts <  TIMESTAMP '2024-01-03 00:00:00'
      |  AND NOT EXISTS (
      |    SELECT 1 FROM events l
      |    WHERE l.ts < TIMESTAMP '2024-01-02 00:00:00'
      |      AND l.user_id = e.user_id AND l.event_type = e.event_type)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** e6 — gap-based sessionization: a new session starts after >6h of
    * user inactivity (lag + running sum — the standard distributed
    * sessionize; partitions by user so it parallelizes). */
  private def e6(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val frame = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .withColumn("tsu", unix_micros(col("ts")))
      .withColumn("prev_tsu", lag(col("tsu"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_tsu").isNull ||
          col("tsu") - col("prev_tsu") > 6L * 3600 * 1000000, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(frame))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  private val e6Sql =
    """SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, tsu,
      |      CASE WHEN prev_tsu IS NULL OR tsu - prev_tsu > CAST(6*3600 AS BIGINT)*1000000
      |           THEN 1 ELSE 0 END AS is_new
      |    FROM (
      |      SELECT user_id, event_id, epoch_ns(ts)//1000 AS tsu,
      |        LAG(epoch_ns(ts)//1000) OVER (PARTITION BY user_id
      |                                      ORDER BY epoch_ns(ts)//1000, event_id) AS prev_tsu
      |      FROM events) a) b) c
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** e7 — pivot (metric columns per agent, the dashboard's wide
    * scoreboard): groupBy(user).pivot(event_type).count. */
  private def e7(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = ev(s, dir).groupBy(col("user_id"))
      .pivot("event_type", types).count()
    types.foldLeft(p)((d, t) => d.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy(col("user_id"))
  }

  private val e7Sql =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type='click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type='error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type='signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type='view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** e8 — DimDate derivation (SURVEY §2.2 P11): the calendar
    * attributes the reference seeds ±5 years, derived from observed
    * dates. ISO day-of-week (1=Mon..7=Sun) per the reference's
    * DimDate spec. */
  private def e8(s: SparkSession, dir: String): DataFrame = {
    ev(s, dir)
      .select(date_trunc("DAY", col("ts")).cast("date").as("date")).distinct()
      .select(col("date"),
        year(col("date")).as("year"), month(col("date")).as("month"),
        dayofmonth(col("date")).as("day"),
        date_format(col("date"), "MMMM").as("month_name"),
        quarter(col("date")).as("quarter"),
        (weekday(col("date")) + 1).as("day_of_week"),
        date_format(col("date"), "EEEE").as("day_name"),
        (weekday(col("date")) >= 5).as("is_weekend"))
      .orderBy(col("date"))
  }

  private val e8Sql =
    """SELECT date, year(date) AS year, month(date) AS month,
      |  dayofmonth(date) AS day, monthname(date) AS month_name,
      |  quarter(date) AS quarter, isodow(date) AS day_of_week,
      |  dayname(date) AS day_name, isodow(date) >= 6 AS is_weekend
      |FROM (SELECT DISTINCT CAST(ts AS DATE) AS date FROM events) d
      |ORDER BY date""".stripMargin

  /** e9 — as-of join (backward): for each purchase, the user's most
    * recent prior click. Composed from existing ops (SURVEY's
    * preference order for custom operators): equi-join on user +
    * range predicate + max-per-key — at scale both sides are
    * pre-filtered and the join is partitioned by user_id. */
  private def e9(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("tsu", unix_micros(col("ts")))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("tsu").as("p_tsu"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tsu").as("c_tsu"))
    purchases.join(clicks,
        col("c_user") === col("user_id") && col("c_tsu") <= col("p_tsu"),
        "left")
      .groupBy(col("p_id"), col("user_id"), col("p_tsu"))
      .agg(max(col("c_tsu")).as("last_click_tsu"))
      .select(col("p_id").as("event_id"), col("user_id"), col("p_tsu").as("tsu"),
        col("last_click_tsu"))
      .orderBy(col("event_id"))
  }

  private val e9Sql =
    """SELECT p.event_id, p.user_id, epoch_ns(p.ts)//1000 AS tsu,
      |  MAX(epoch_ns(c.ts)//1000) AS last_click_tsu
      |FROM events p
      |LEFT JOIN events c
      |  ON c.user_id = p.user_id AND c.event_type = 'click'
      | AND epoch_ns(c.ts)//1000 <= epoch_ns(p.ts)//1000
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id, epoch_ns(p.ts)//1000
      |ORDER BY p.event_id""".stripMargin

  /** e10 — the same as-of contract as e9 through the custom
    * [[graft.plans.AsOfJoin]] physical operator (logical node +
    * strategy + sort-merge exec via SparkSessionExtensions): one
    * exchange+sort per side and a single linear merge pass, vs e9's
    * expand-then-reaggregate. Shares e9's oracle. */
  private def e10(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("tsu", unix_micros(col("ts")))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("tsu"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tsu").as("c_tsu"))
    graft.plans.AsOfJoin.backward(purchases, clicks,
        keys = Seq("user_id" -> "c_user"), leftTime = "tsu", rightTime = "c_tsu")
      .select(col("event_id"), col("user_id"), col("tsu"),
        col("c_tsu").as("last_click_tsu"))
      .orderBy(col("event_id"))
  }

  /** e11 — interval join with an equi prefix (the scalable range-join
    * shape: hash-partition on the equi keys, range predicate as a
    * residual filter — no all-pairs expansion): per user-day, the
    * "session window" opens at the first event and lasts 4 hours;
    * count how much of the day's activity falls inside it. */
  private def e11(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .withColumn("tsu", unix_micros(col("ts")))
      .withColumn("day", date_trunc("DAY", col("ts")).cast("date"))
    val windows = e.groupBy(col("user_id").as("w_user"), col("day").as("w_day"))
      .agg(min(col("tsu")).as("w_start"))
      .withColumn("w_end", col("w_start") + lit(4L * 3600 * 1000000))
    e.join(windows,
        col("user_id") === col("w_user") && col("day") === col("w_day") &&
          col("tsu") >= col("w_start") && col("tsu") < col("w_end"))
      .groupBy(col("user_id"), col("day"), col("w_start"))
      .agg(count(lit(1)).as("n_in_window"))
      .join(e.groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n_total")),
        Seq("user_id", "day"))
      .select(col("user_id"), col("day"), col("w_start"), col("n_in_window"),
        col("n_total"),
        fround(col("n_in_window").cast("double") / col("n_total"), 6).as("frac_in_window"))
      .orderBy(col("user_id"), col("day"))
  }

  private val e11Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts)//1000 AS tsu, CAST(ts AS DATE) AS day
      |  FROM events),
      |w AS (
      |  SELECT user_id AS w_user, day AS w_day, MIN(tsu) AS w_start,
      |    MIN(tsu) + CAST(4*3600 AS BIGINT)*1000000 AS w_end
      |  FROM e GROUP BY user_id, day),
      |inwin AS (
      |  SELECT e.user_id, e.day, w.w_start, COUNT(*) AS n_in_window
      |  FROM e JOIN w ON e.user_id = w.w_user AND e.day = w.w_day
      |    AND e.tsu >= w.w_start AND e.tsu < w.w_end
      |  GROUP BY e.user_id, e.day, w.w_start),
      |tot AS (SELECT user_id, day, COUNT(*) AS n_total FROM e GROUP BY user_id, day)
      |SELECT i.user_id, i.day, i.w_start, i.n_in_window, t.n_total,
      |  FLOOR(CAST(i.n_in_window AS DOUBLE) / t.n_total * 1e6 + 0.5) / 1e6 AS frac_in_window
      |FROM inwin i JOIN tot t ON i.user_id = t.user_id AND i.day = t.day
      |ORDER BY i.user_id, i.day""".stripMargin

  /** e12 — skew-proof global rollup by event_type (5 distinct values
    * over the whole fact table — every group is a hot key) through
    * [[graft.operators.SaltedAgg]]: phase 1 aggregates per
    * (type, salt) so each hot key fans across 32 reducers, phase 2
    * merges the ≤ 5×32-row partial table. Decimal sums make the
    * two-phase float math exact, so the result is bit-identical to
    * the single-phase oracle GROUP BY. */
  private def e12(s: SparkSession, dir: String): DataFrame =
    graft.operators.SaltedAgg.salted(ev(s, dir), salt = 32,
      keys = Seq(col("event_type")),
      partials = Seq(count(lit(1)).as("__n"), sum(dec(col("value"))).as("__v"),
        max(col("value")).as("__mx")),
      finals = Seq(sum(col("__n")).as("n_events"),
        money(sum(col("__v"))).as("sum_value"),
        max(col("__mx")).as("max_value")))
      .orderBy(col("event_type"))

  private val e12Sql =
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
      |  MAX(value) AS max_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** e13 — cohort retention: users cohorted by first-seen day; each
    * (cohort, day-offset ≤ 7) cell counts distinct users active that
    * many days later — the activation/retention matrix every product
    * and data-curation dashboard carries. Two fact-side shuffles
    * (first-seen agg keyed on user; cell agg keyed on cohort×offset),
    * the cohort table joins back keyed on user — no skew beyond the
    * natural cohort sizes. */
  private def e13(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .select(col("user_id"), date_trunc("DAY", col("ts")).cast("date").as("day"))
    val cohorts = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.join(cohorts, "user_id")
      .withColumn("offset", datediff(col("day"), col("cohort_day")))
      .filter(col("offset") <= 7)
      .groupBy(col("cohort_day"), col("offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_day"), col("offset"))
  }

  private val e13Sql =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id)
      |SELECT c.cohort_day, e.day - c.cohort_day AS "offset",
      |  COUNT(DISTINCT e.user_id) AS n_active
      |FROM e JOIN c ON e.user_id = c.user_id
      |WHERE e.day - c.cohort_day <= 7
      |GROUP BY c.cohort_day, e.day - c.cohort_day
      |ORDER BY cohort_day, "offset"""".stripMargin

  /** e14 — ordered funnel: view → click → purchase, each stage's
    * timestamp must be ≥ the previous stage's FIRST satisfying time
    * per user. Three keyed aggregations chained by user-id joins (the
    * per-stage tables shrink monotonically); no windows over the
    * whole fact, no per-user loops. */
  private def e14(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tsu"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tsu")).as("v_ts"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("tsu") >= col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("tsu")).as("c_ts"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("tsu") >= col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("tsu")).as("p_ts"))
    val spark = s
    import spark.implicits._
    Seq(1, 2, 3).toDF("stage")
      .join(
        v.agg(count(lit(1)).as("n")).withColumn("stage", lit(1))
          .unionByName(c.agg(count(lit(1)).as("n")).withColumn("stage", lit(2)))
          .unionByName(p.agg(count(lit(1)).as("n")).withColumn("stage", lit(3))),
        Seq("stage"))
      .withColumn("stage_name",
        element_at(typedLit(Map(1 -> "view", 2 -> "click", 3 -> "purchase")),
          col("stage")))
      .select(col("stage").cast("long").as("stage"), col("stage_name"), col("n"))
      .orderBy(col("stage"))
  }

  private val e14Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS tsu FROM events),
      |v AS (SELECT user_id, MIN(tsu) AS v_ts FROM e WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.tsu) AS c_ts FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.tsu >= v.v_ts GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.tsu) AS p_ts FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.tsu >= c.c_ts GROUP BY e.user_id)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name, COUNT(*) AS n FROM v
      |  UNION ALL
      |  SELECT 2, 'click', COUNT(*) FROM c
      |  UNION ALL
      |  SELECT 3, 'purchase', COUNT(*) FROM p)
      |ORDER BY stage""".stripMargin

  /** e15 — the SHIFT-PACE half of the scoreboard (SURVEY §2.5 A4, the
    * declared DAX semantics of the reference's
    * `docs/quill_dashboard_schema_design_doc.md:150-162`): pace =
    * %-of-goal measured against %-of-shift-elapsed at a FIXED `asOf`
    * instant, GREEN at/ahead of pace, YELLOW within the yellow floor
    * of pace, RED behind. Routed through [[graft.etl.Scoreboard]] —
    * the same code a live dashboard calls with `current_timestamp()`
    * — with the clock injected as a literal so the result is
    * deterministic and oracle-checkable. The DimShift analog derives
    * each user's shift as their first→last activity per day (days
    * with a single instant carry no shift and fall back to the
    * whole-day-goal comparison, exactly the reference's no-shift
    * branch). */
  private def e15(s: SparkSession, dir: String): DataFrame = {
    val facts = ev(s, dir).select(col("user_id").as("agentId"),
      col("event_type").as("metricId"),
      date_trunc("DAY", col("ts")).cast("date").as("factDateKey"))
    val dimMetric = goals(s).select(col("event_type").as("MetricID"),
      col("goal").as("DefaultGoal"), col("yellow_floor").as("DefaultYellowFloorPct"))
    val dimShift = ev(s, dir)
      .groupBy(col("user_id").as("AgentID"),
        date_trunc("DAY", col("ts")).cast("date").as("LocalDate"))
      .agg(min(col("ts")).as("ShiftStartLocal"), max(col("ts")).as("ShiftEndLocal"))
      // second-granularity guard: pace is computed on unix seconds, so
      // a zero-length shift would be a 0/0 — such days have no pace
      .filter(unix_timestamp(col("ShiftEndLocal")) >
        unix_timestamp(col("ShiftStartLocal")))
    val asOf = to_timestamp(lit("2024-01-15 12:00:00"))
    graft.etl.Scoreboard.scoreboard(facts, dimMetric, dimShift, asOf)
      .select(col("agentId").as("agent_id"), col("metricId").as("metric_id"),
        col("factDateKey").as("day"), col("n_events"),
        fround(col("pct_goal"), 6).as("pct_goal"),
        fround(col("shift_elapsed"), 6).as("shift_elapsed"), col("color"))
      .orderBy(col("agent_id"), col("day"), col("metric_id"))
  }

  private val e15Sql =
    s"""WITH counts AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2, 3),
      |shifts AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    MIN(epoch_ns(ts)//1000000000) AS s_sec,
      |    MAX(epoch_ns(ts)//1000000000) AS e_sec
      |  FROM events GROUP BY 1, 2
      |  HAVING MAX(epoch_ns(ts)//1000000000) > MIN(epoch_ns(ts)//1000000000)),
      |x AS (
      |  SELECT c.user_id, c.day, c.event_type, c.n_events,
      |    CAST(c.n_events AS DOUBLE) / g.goal AS pct,
      |    CASE WHEN sh.s_sec IS NOT NULL THEN
      |      LEAST(GREATEST(CAST(1705320000 - sh.s_sec AS DOUBLE)
      |        / (sh.e_sec - sh.s_sec), 0.0), 1.0) END AS elapsed,
      |    g.yellow_floor
      |  FROM counts c
      |  JOIN $goalsSqlValues ON c.event_type = g.event_type
      |  LEFT JOIN shifts sh ON c.user_id = sh.user_id AND c.day = sh.day)
      |SELECT user_id AS agent_id, event_type AS metric_id, day, n_events,
      |  FLOOR(pct * 1e6 + 0.5) / 1e6 AS pct_goal,
      |  FLOOR(elapsed * 1e6 + 0.5) / 1e6 AS shift_elapsed,
      |  CASE WHEN pct IS NULL THEN NULL
      |       WHEN pct >= COALESCE(elapsed, 1.0) THEN 'GREEN'
      |       WHEN pct >= COALESCE(elapsed, 1.0) * yellow_floor THEN 'YELLOW'
      |       ELSE 'RED' END AS color
      |FROM x
      |ORDER BY agent_id, day, metric_id""".stripMargin

  /** e16 — skew-proof weighted rollup through [[graft.operators
    * .SaltedJoin]]: events ⋈ a 5-row per-type weight dim on
    * `event_type` — a join key with FIVE distinct values, i.e. a
    * plain shuffle join runs on ≤5 reducers no matter how many
    * executors the cluster has, and any hot type is a straggler. The
    * salted join (8 salts, salted by event_id) spreads each type
    * over 8 reducers; the weight dim grows 8× (40 rows — the
    * explicit, bounded price). The rollup after it is safe
    * unsalted: partial aggregation means the 5-key final shuffle
    * carries map-side combined partials, not rows (and if the GROUPS
    * were hot, e12's SaltedAgg is the companion pattern).
    *
    * Result contract is the plain inner join + rollup, which is
    * exactly what the DuckDB oracle runs. */
  private def e16(s: SparkSession, dir: String): DataFrame = {
    val dim = s.createDataFrame(Seq(
      ("click", 0.25), ("view", 0.125), ("purchase", 1.0),
      ("signup", 0.5), ("error", 0.0))).toDF("event_type", "weight")
    graft.operators.SaltedJoin
      .inner(ev(s, dir), dim, Seq("event_type"), salts = 8,
        saltBy = col("event_id"))
      .groupBy(col("event_type"), col("weight"))
      .agg(count(lit(1)).as("n_events"),
        money(sum(dec(col("value") * col("weight")))).as("weighted_value"))
      .orderBy(col("event_type"))
  }

  private val e16Sql =
    """WITH dim(event_type, weight) AS (VALUES
      |  ('click', 0.25), ('view', 0.125), ('purchase', 1.0),
      |  ('signup', 0.5), ('error', 0.0))
      |SELECT e.event_type, CAST(dim.weight AS DOUBLE) AS weight, COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(e.value * dim.weight AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS weighted_value
      |FROM events e JOIN dim USING (event_type)
      |GROUP BY e.event_type, dim.weight
      |ORDER BY e.event_type""".stripMargin

  /** e17 — trailing time-RANGE window frame (q19 covers ROWS frames;
    * this is the event-time sibling): per user, every event carries
    * the count and value-sum of that user's events in the trailing
    * hour INCLUDING itself — the per-entity rate/velocity feature a
    * fraud or rate-limit pipeline derives. RANGE frames bound by the
    * ORDER BY value (µs instants here), so tied timestamps all see
    * the same frame — deterministic without a unique sort key, which
    * is exactly why the frame orders by `tsu` and not `row_number`.
    *
    * Scale: one shuffle on user_id (high-cardinality ⇒ parallel),
    * then a per-partition ordered scan with a sliding two-pointer
    * frame — no self-join (the naive equivalent is an O(n·w)
    * interval self-join; e11 shows that shape where it IS needed). */
  private def e17(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      .rangeBetween(-3600000000L, 0L) // trailing hour, µs
    ev(s, dir)
      .withColumn("tsu", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("tsu"),
        count(lit(1)).over(w).as("n_1h"),
        money(sum(dec(col("value"))).over(w)).as("sum_1h"))
      .orderBy(col("user_id"), col("tsu"), col("event_id"))
  }

  private val e17Sql =
    """SELECT event_id, user_id, epoch_ns(ts)//1000 AS tsu,
      |  COUNT(*) OVER w AS n_1h,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))) OVER w, 2) AS DOUBLE) AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, tsu, event_id""".stripMargin

  /** e18 — FORWARD as-of through the custom operator: for each
    * purchase, the user's NEXT click at-or-after it (follow-up
    * attribution). Same one-merge-pass cost shape as e10; the
    * forward merge is a pure peek (no candidate buffering — see
    * [[graft.plans.AsOfJoinExec]]). Oracle is the composable form:
    * min-aggregate over the future-side inequality join. */
  private def e18(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("tsu", unix_micros(col("ts")))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("tsu"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tsu").as("c_tsu"))
    graft.plans.AsOfJoin.forward(purchases, clicks,
        keys = Seq("user_id" -> "c_user"), leftTime = "tsu", rightTime = "c_tsu")
      .select(col("event_id"), col("user_id"), col("tsu"),
        col("c_tsu").as("next_click_tsu"))
      .orderBy(col("event_id"))
  }

  private val e18Sql =
    """SELECT p.event_id, p.user_id, epoch_ns(p.ts)//1000 AS tsu,
      |  MIN(epoch_ns(c.ts)//1000) AS next_click_tsu
      |FROM events p
      |LEFT JOIN events c
      |  ON c.user_id = p.user_id AND c.event_type = 'click'
      | AND epoch_ns(c.ts)//1000 >= epoch_ns(p.ts)//1000
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id, epoch_ns(p.ts)//1000
      |ORDER BY p.event_id""".stripMargin

  /** e19 — time-series resample + gap-fill: each user's event stream
    * is regularized onto a daily grid spanning their first..last
    * active day, missing days are marked and the day total is
    * forward-filled from the last observed day (`last(_, ignoreNulls)`
    * running window — the LOCF imputation a feature-engineering
    * pipeline runs before a model sees the series).
    *
    * Scale: the observed frame is one partial+final agg; the spine is
    * generated per user from a 2-column (min, max) agg — `sequence` +
    * explode, no driver-side date loop and no global calendar join;
    * the fill window partitions by user (millions of independent
    * partitions, no q20-style funnel). Leading gaps (before a user's
    * first observation) stay NULL by design. */
  private def e19(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"),
        date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg(money(sum(dec(col("value")))).as("observed"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("user_id"),
        explode(sequence(col("mn"), col("mx"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        col("observed").isNull.as("is_gap"),
        last(col("observed"), ignoreNulls = true).over(w).as("filled"))
      .orderBy(col("user_id"), col("day"))
  }

  private val e19Sql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS observed
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |spine AS (
      |  SELECT user_id, CAST(UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM daily GROUP BY user_id))
      |SELECT s.user_id, s.day, d.observed IS NULL AS is_gap,
      |  LAST_VALUE(d.observed IGNORE NULLS) OVER (
      |    PARTITION BY s.user_id ORDER BY s.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
      |ORDER BY s.user_id, s.day""".stripMargin

  /** e20 — next-event transition matrix (first-order Markov model of
    * user behavior): per user, events order by time and each
    * consecutive (state → next) pair increments a transition count;
    * probabilities normalize per source state. The sequence-modeling
    * prior a product-analytics stack derives before anything fancier.
    *
    * Scale: the lead() window partitions by user (no funnel); the
    * count is a 25-cell hash agg; the normalizer is a windowed sum
    * over the tiny transition frame itself. Tie-break within a user's
    * identical timestamps is event_id — deterministic cross-engine. */
  private def e20(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val steps = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    val counts = steps.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy(col("src"))
    counts
      .select(col("src"), col("dst"), col("n"),
        fround(col("n").cast("double") / sum(col("n")).over(tot), 6).as("p"))
      .orderBy(col("src"), col("dst"))
  }

  private val e20Sql =
    """WITH steps AS (
      |  SELECT user_id, event_type AS src,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts), event_id) AS dst
      |  FROM events),
      |counts AS (
      |  SELECT src, dst, COUNT(*) AS n FROM steps
      |  WHERE dst IS NOT NULL GROUP BY src, dst)
      |SELECT src, dst, n,
      |  FLOOR(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) * 1e6 + 0.5) / 1e6 AS p
      |FROM counts ORDER BY src, dst""".stripMargin

  /** e21 — trailing-window z-score anomaly detection: each user's
    * daily spend is scored against the mean/stddev of their OWN
    * trailing 7 fully-observed days (the current day excluded), and
    * days beyond |z| > 2 are flagged — the classic per-entity
    * data-quality / fraud sweep.
    *
    * Float determinism: windowed double sums are NOT cross-engine
    * stable (DuckDB aggregates window frames via segment trees —
    * different summation order). So the day totals become exact
    * integer CENTS (decimal → ×100 → long), the window keeps exact
    * integer Σx and Σx², and mean/var/z are derived from those two
    * integers with the same IEEE ops on both engines. z is
    * scale-invariant, so cents-space z ≡ dollars-space z.
    *
    * Scale: one partial+final daily agg, then per-user windows —
    * millions of independent partitions, no funnel. */
  private def e21(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"),
        date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg((round(sum(dec(col("value"))), 2) * 100).cast("long").as("c"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    val scored = daily.select(col("user_id"), col("day"), col("c"),
      count(col("c")).over(w).as("n7"),
      sum(col("c")).over(w).as("s7"),
      sum(col("c") * col("c")).over(w).as("q7"))
    scored.filter(col("n7") === 7)
      .withColumn("mean", col("s7").cast("double") / 7)
      .withColumn("vr",
        col("q7").cast("double") / 7 - col("mean") * col("mean"))
      .filter(col("vr") > 0)
      .withColumn("z", (col("c") - col("mean")) / sqrt(col("vr")))
      .filter(abs(col("z")) > 2)
      .select(col("user_id"), col("day"),
        (col("c").cast("double") / 100).as("observed"),
        fround(col("mean") / 100, 4).as("mean7"),
        fround(col("z"), 4).as("z"))
      .orderBy(col("user_id"), col("day"))
  }

  private val e21Sql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) * 100 AS BIGINT) AS c
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |win AS (
      |  SELECT user_id, day, c,
      |    COUNT(c) OVER w AS n7, SUM(c) OVER w AS s7, SUM(c * c) OVER w AS q7
      |  FROM daily
      |  WINDOW w AS (PARTITION BY user_id ORDER BY day
      |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |scored AS (
      |  SELECT user_id, day, c,
      |    CAST(s7 AS DOUBLE) / 7 AS mean,
      |    CAST(q7 AS DOUBLE) / 7 - (CAST(s7 AS DOUBLE) / 7) * (CAST(s7 AS DOUBLE) / 7) AS vr
      |  FROM win WHERE n7 = 7)
      |SELECT user_id, day, CAST(c AS DOUBLE) / 100 AS observed,
      |  FLOOR(mean / 100 * 1e4 + 0.5) / 1e4 AS mean7,
      |  FLOOR((c - mean) / SQRT(vr) * 1e4 + 0.5) / 1e4 AS z
      |FROM scored
      |WHERE vr > 0 AND ABS((c - mean) / SQRT(vr)) > 2
      |ORDER BY user_id, day""".stripMargin

  /** e22 — exponential smoothing (EMA, α = 1/2) of each user's daily
    * spend: s₁ = x₁, sₜ = ½xₜ + ½sₜ₋₁ — the streaming-free forecast
    * baseline a metrics stack keeps next to the raw series. α = ½ is
    * chosen deliberately: halving a double is EXACT (exponent
    * decrement), so the only rounding in the whole recurrence is one
    * addition per step — and with both engines folding the same cents
    * integers in the same day order (Spark `aggregate` over a sorted
    * collect_list ≡ DuckDB `list_reduce` over `list(... ORDER BY
    * day)`, both left folds seeded by the first element), the result
    * is bit-identical, not merely close.
    *
    * Scale: one partial+final daily agg, then a per-user fold over
    * that user's own days (array of ~tens of elements) — grouped,
    * bounded, no window funnel. */
  private def e22(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"),
        date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg((round(sum(dec(col("value"))), 2) * 100).cast("long").as("c"))
    daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"), max(col("day")).as("last_day"),
        expr("transform(array_sort(collect_list(struct(day, c))), " +
          "s -> cast(s.c as double))").as("cs"))
      .select(col("user_id"), col("n_days"), col("last_day"),
        (element_at(col("cs"), -1) / 100).as("last_amt"),
        fround(expr(
          "aggregate(slice(cs, 2, size(cs) - 1), cs[0], " +
            "(acc, x) -> 0.5D * acc + 0.5D * x)") / 100, 4).as("ema"))
      .orderBy(col("user_id"))
  }

  private val e22Sql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) * 100 AS BIGINT) AS c
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |folded AS (
      |  SELECT user_id, COUNT(*) AS n_days, MAX(day) AS last_day,
      |    list_transform(list(c ORDER BY day), x -> CAST(x AS DOUBLE)) AS cs
      |  FROM daily GROUP BY user_id)
      |SELECT user_id, n_days, last_day,
      |  cs[-1] / 100 AS last_amt,
      |  FLOOR(list_reduce(cs, (acc, x) -> 0.5 * acc + 0.5 * x) / 100 * 1e4 + 0.5) / 1e4 AS ema
      |FROM folded ORDER BY user_id""".stripMargin

  /** e23 — incremental aggregate maintenance: the daily rollup is
    * maintained as MERGEABLE partial states — history (days before a
    * cutoff) and the delta slice aggregate independently, then their
    * partials merge — and the merged result is hash-identical to a
    * full recompute (the oracle). count and DECIMAL-exact sum are the
    * mergeable pair (exact at any merge order); avg/ratios derive
    * after the final merge. This is the nightly-refresh pattern: at
    * 100 TB only the delta partition is scanned, closed days ride as
    * stored partials.  */
  private def e23(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    def partials(cond: Column) = e.filter(cond)
      .groupBy(col("user_id"),
        date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("amt"))
    val cut = Tables.nanos("2024-01-20")
    partials(col("ts_ns") < cut)
      .unionByName(partials(col("ts_ns") >= cut))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("n")).as("n_events"), money(sum(col("amt"))).as("total"))
      .orderBy(col("user_id"), col("day"))
  }

  private val e23Sql =
    """SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
      |FROM events
      |GROUP BY user_id, CAST(ts AS DATE)
      |ORDER BY user_id, day""".stripMargin

  /** e24 — last-touch revenue attribution: every purchase credits the
    * user's most recent preceding touch (click/view/signup) if it
    * fell within a 24 h lookback, else lands in the `unattributed`
    * bucket — the marketing-analytics op behind every channel-ROI
    * dashboard, driven through the custom [[graft.plans.AsOfJoin]]
    * operator (one merge pass; e9's expand-reaggregate is the
    * composed fallback).
    *
    * Determinism: touches collapse to one row per (user, instant)
    * first (ties take the lexicographically-last type), so the as-of
    * pick is unique even where raw timestamps collide. */
  private def e24(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("tsu", unix_micros(col("ts")))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("tsu"), col("value"))
    val touches = e
      .filter(col("event_type").isin("click", "view", "signup"))
      .groupBy(col("user_id").as("t_user"), col("tsu").as("t_tsu"))
      .agg(max(col("event_type")).as("touch"))
    graft.plans.AsOfJoin.backward(purchases, touches,
        keys = Seq("user_id" -> "t_user"), leftTime = "tsu", rightTime = "t_tsu")
      .select(col("value"),
        when(col("t_tsu").isNotNull &&
            col("tsu") - col("t_tsu") <= 24L * 3600 * 1000000,
          col("touch")).otherwise("unattributed").as("touch"))
      .groupBy(col("touch"))
      .agg(count(lit(1)).as("n_purchases"),
        money(sum(dec(col("value")))).as("revenue"))
      .orderBy(col("touch"))
  }

  private val e24Sql =
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_ns(ts)//1000 AS tsu, value
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, epoch_ns(ts)//1000 AS tsu, MAX(event_type) AS touch
      |  FROM events WHERE event_type IN ('click', 'view', 'signup')
      |  GROUP BY user_id, epoch_ns(ts)//1000),
      |j AS (
      |  SELECT p.event_id, p.value, t.touch, t.tsu AS t_tsu, p.tsu,
      |    ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY t.tsu DESC) AS rn
      |  FROM p LEFT JOIN t ON t.user_id = p.user_id AND t.tsu <= p.tsu)
      |SELECT CASE WHEN t_tsu IS NOT NULL AND tsu - t_tsu <= 86400000000
      |            THEN touch ELSE 'unattributed' END AS touch,
      |  COUNT(*) AS n_purchases,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM j WHERE rn = 1
      |GROUP BY CASE WHEN t_tsu IS NOT NULL AND tsu - t_tsu <= 86400000000
      |              THEN touch ELSE 'unattributed' END
      |ORDER BY touch""".stripMargin

  /** e25 — Holt linear trend (double exponential smoothing, α = β =
    * ½) over each user's daily spend: e22's EMA tracks the LEVEL only
    * and lags any drift; Holt co-estimates a trend term and yields the
    * one-step forecast `level + trend` — the standard next rung on the
    * forecasting ladder. α = β = ½ keeps e22's exactness argument:
    * halving a double is exact, so each step rounds only in its
    * additions, and both engines fold the same cents in the same day
    * order (recipe 15: Spark `aggregate(slice(xs,2,…), xs[0], …)` ≡
    * DuckDB `list_reduce`, both left folds seeded by the first
    * element) — the (level, trend) pair is bit-identical, not close.
    * The fold state is a STRUCT: the elements are lifted to
    * `(l, b, c)` triples so the seed (l₁ = x₁, b₁ = 0) is just the
    * first element, DuckDB's list_reduce contract.
    *
    * Scale: identical to e22 — one partial+final daily agg, then a
    * per-user fold over that user's own days; grouped, bounded, no
    * window funnel. */
  private def e25(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"),
        date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg((round(sum(dec(col("value"))), 2) * 100).cast("long").as("c"))
    daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"), max(col("day")).as("last_day"),
        expr("transform(array_sort(collect_list(struct(day, c))), " +
          "s -> named_struct('l', cast(s.c as double), 'b', 0D, " +
          "'c', cast(s.c as double)))").as("xs"))
      .withColumn("st", expr(
        "aggregate(slice(xs, 2, size(xs) - 1), xs[0], (acc, x) -> named_struct(" +
          "'l', 0.5D * x.c + 0.5D * (acc.l + acc.b), " +
          "'b', 0.5D * (0.5D * x.c + 0.5D * (acc.l + acc.b) - acc.l) + 0.5D * acc.b, " +
          "'c', x.c))"))
      .select(col("user_id"), col("n_days"), col("last_day"),
        fround(col("st.l") / 100, 4).as("level"),
        fround(col("st.b") / 100, 4).as("trend"),
        fround((col("st.l") + col("st.b")) / 100, 4).as("forecast"))
      .orderBy(col("user_id"))
  }

  // Oracle note: DuckDB v1.0.0's list_reduce over STRUCT elements is
  // not a trustworthy left fold (probed: cross-field accumulator
  // references see inconsistent old/new values depending on field
  // order and expression shape), so the two-component Holt state is
  // mirrored with an unambiguous recursive CTE instead — one row per
  // (user, day-rank) step, identical IEEE expression per step.
  private val e25Sql =
    """WITH RECURSIVE daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) * 100 AS BIGINT) AS c
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |ranked AS (
      |  SELECT user_id, c,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS i,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM daily),
      |st(user_id, i, n, l, b) AS (
      |  SELECT user_id, i, n, CAST(c AS DOUBLE), CAST(0 AS DOUBLE)
      |  FROM ranked WHERE i = 1
      |  UNION ALL
      |  SELECT r.user_id, r.i, r.n,
      |    0.5 * CAST(r.c AS DOUBLE) + 0.5 * (st.l + st.b),
      |    0.5 * (0.5 * CAST(r.c AS DOUBLE) + 0.5 * (st.l + st.b) - st.l)
      |      + 0.5 * st.b
      |  FROM st JOIN ranked r ON r.user_id = st.user_id AND r.i = st.i + 1),
      |fin AS (SELECT user_id, l, b FROM st WHERE i = n),
      |agg AS (
      |  SELECT user_id, COUNT(*) AS n_days, MAX(day) AS last_day
      |  FROM daily GROUP BY user_id)
      |SELECT a.user_id, a.n_days, a.last_day,
      |  FLOOR(f.l / 100 * 1e4 + 0.5) / 1e4 AS level,
      |  FLOOR(f.b / 100 * 1e4 + 0.5) / 1e4 AS trend,
      |  FLOOR((f.l + f.b) / 100 * 1e4 + 0.5) / 1e4 AS forecast
      |FROM agg a JOIN fin f ON a.user_id = f.user_id
      |ORDER BY a.user_id""".stripMargin

  /** e26 — weekday seasonal index per event type: mean daily value on
    * each day-of-week relative to the type's overall daily mean — the
    * seasonality profile that turns e22/e25's level-and-trend into a
    * full classical decomposition (level + trend + season), and the
    * input a forecaster multiplies into its one-step prediction.
    * Index > 1 ⇒ that weekday runs hot for that event type.
    *
    * Determinism: both means are ratios of EXACT aggregates (decimal
    * cent sums, day counts); the index is two IEEE divisions and one
    * more division on identical inputs in identical order, then
    * round(6). Day-of-week is normalized to DuckDB's 0=Sunday..6
    * convention (Spark's `dayofweek` is 1-based).
    *
    * Scale: two partial+final aggs over the daily frame (one keyed
    * by (type, dow), one by type) and a broadcast join — no windows,
    * no skew exposure beyond the daily rollup itself. */
  private def e26(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg((round(sum(dec(col("value"))), 2) * 100).cast("long").as("c"))
    val byDow = daily
      .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"))
    val tot = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nt"), sum(col("c")).as("st"))
    // r18 correctness: the two ratio outputs round via the s7
    // floor(x+0.5) convention instead of round() — at sf0.001 the
    // mean landed on an exact decimal-halfway cent value (27871.5/100)
    // where Spark rounds the shortest-decimal representation UP and
    // DuckDB rounds the binary double DOWN (278.72 vs 278.71). The
    // floor form is the same IEEE ops on identical doubles in both
    // engines; non-boundary values are unchanged.
    byDow.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("dow"), col("n_days"),
        (floor(col("sc").cast("double") / col("n_days") + 0.5) / 100)
          .as("mean_daily"),
        (floor((col("sc").cast("double") / col("n_days")) /
          (col("st").cast("double") / col("nt")) * 1e6 + 0.5) / 1e6)
          .as("season_index"))
      .orderBy(col("event_type"), col("dow"))
  }

  private val e26Sql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) * 100 AS BIGINT) AS c
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |bydow AS (
      |  SELECT event_type, CAST(dayofweek(day) AS BIGINT) AS dow,
      |    COUNT(*) AS n_days, CAST(SUM(c) AS BIGINT) AS sc
      |  FROM daily GROUP BY event_type, dayofweek(day)),
      |tot AS (
      |  SELECT event_type, COUNT(*) AS nt, CAST(SUM(c) AS BIGINT) AS st
      |  FROM daily GROUP BY event_type)
      |SELECT b.event_type, b.dow, b.n_days,
      |  FLOOR(CAST(sc AS DOUBLE) / n_days + 0.5) / 100 AS mean_daily,
      |  FLOOR((CAST(sc AS DOUBLE) / n_days) / (CAST(st AS DOUBLE) / nt)
      |        * 1e6 + 0.5) / 1e6 AS season_index
      |FROM bydow b JOIN tot t ON b.event_type = t.event_type
      |ORDER BY b.event_type, b.dow""".stripMargin

  /** e27 — CUSUM drift detection over each user's daily spend: the
    * classic one-sided cumulative-sum chart S₀ = 0,
    * Sₜ = max(0, Sₜ₋₁ + (xₜ − μ − κ)) with slack κ = σ/2 and alarm
    * threshold h = 3σ — the sequential changepoint detector a
    * training-data pipeline runs per SOURCE to catch distribution
    * drift before it poisons a mixture (here per user over `events`,
    * the same shape). Emits per user the final S, the maximum S, the
    * number of alarm days and the first alarm day.
    *
    * Determinism: μ and σ derive from EXACT integer cent sums (Σx,
    * Σx² — order-free), so both engines see identical doubles; the
    * recurrence folds in day order with identical IEEE ops per step.
    * The fold state is a struct, so the oracle uses e25's
    * recursive-CTE mirror (DuckDB v1.0.0 list_reduce struct
    * accumulators are untrustworthy — see e25).
    *
    * Scale: one partial+final daily agg, one exact per-user stats
    * agg, then a per-user fold over own days — grouped, bounded, no
    * funnel; alarms at 100 TB are per-source, thousands of groups. */
  private def e27(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(col("user_id"),
        date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg((round(sum(dec(col("value"))), 2) * 100).cast("long").as("c"))
    daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).as("sx"), sum(col("c") * col("c")).as("sq"),
        expr("array_sort(collect_list(struct(day, c)))").as("xs"))
      .withColumn("mu", col("sx").cast("double") / col("n_days"))
      .withColumn("sigma", sqrt(greatest(lit(0.0),
        col("sq").cast("double") / col("n_days") - col("mu") * col("mu"))))
      .withColumn("st", expr(
        // state: (s = current CUSUM, mx = running max, na = alarm days,
        // fd = first alarm day or null); kappa = sigma/2, h = 3*sigma
        "aggregate(xs, named_struct(" +
          "'s', 0D, 'mx', 0D, 'na', 0L, 'fd', cast(null as date)), " +
          "(acc, x) -> named_struct(" +
          "'s', greatest(0D, acc.s + (cast(x.c as double) - mu - sigma / 2D)), " +
          "'mx', greatest(acc.mx, greatest(0D, acc.s + (cast(x.c as double) - mu - sigma / 2D))), " +
          "'na', acc.na + IF(greatest(0D, acc.s + (cast(x.c as double) - mu - sigma / 2D)) > 3D * sigma, 1L, 0L), " +
          "'fd', coalesce(acc.fd, IF(greatest(0D, acc.s + (cast(x.c as double) - mu - sigma / 2D)) > 3D * sigma, x.day, cast(null as date)))))"))
      // r18 correctness: round-4 ratios via the s7 floor(x+0.5)
      // convention — mean_daily hit an exact halfway at sf0.1
      // (82.22625: Spark's decimal-repr rounding vs DuckDB's double
      // rounding disagree); same treatment for the two cusum outputs
      // (identical boundary class)
      .select(col("user_id"), col("n_days"),
        (floor(col("mu") / 100 * 1e4 + 0.5) / 1e4).as("mean_daily"),
        (floor(col("st.s") / 100 * 1e4 + 0.5) / 1e4).as("cusum_final"),
        (floor(col("st.mx") / 100 * 1e4 + 0.5) / 1e4).as("cusum_max"),
        col("st.na").as("alarm_days"), col("st.fd").as("first_alarm"))
      .orderBy(col("user_id"))
  }

  private val e27Sql =
    """WITH RECURSIVE daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) * 100 AS BIGINT) AS c
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |stats AS (
      |  SELECT user_id, COUNT(*) AS n_days,
      |    CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mu,
      |    sqrt(greatest(CAST(0 AS DOUBLE),
      |         CAST(SUM(c * c) AS DOUBLE) / COUNT(*) -
      |         (CAST(SUM(c) AS DOUBLE) / COUNT(*)) *
      |         (CAST(SUM(c) AS DOUBLE) / COUNT(*)))) AS sigma
      |  FROM daily GROUP BY user_id),
      |ranked AS (
      |  SELECT user_id, day, c,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS i,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM daily),
      |st(user_id, i, n, s, mx, na, fd) AS (
      |  SELECT r.user_id, 0, r.n, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
      |    CAST(0 AS BIGINT), CAST(NULL AS DATE)
      |  FROM ranked r WHERE r.i = 1
      |  UNION ALL
      |  SELECT r.user_id, r.i, r.n,
      |    greatest(CAST(0 AS DOUBLE),
      |             st.s + (CAST(r.c AS DOUBLE) - t.mu - t.sigma / 2)),
      |    greatest(st.mx, greatest(CAST(0 AS DOUBLE),
      |             st.s + (CAST(r.c AS DOUBLE) - t.mu - t.sigma / 2))),
      |    st.na + CASE WHEN greatest(CAST(0 AS DOUBLE),
      |             st.s + (CAST(r.c AS DOUBLE) - t.mu - t.sigma / 2))
      |             > 3 * t.sigma THEN 1 ELSE 0 END,
      |    COALESCE(st.fd, CASE WHEN greatest(CAST(0 AS DOUBLE),
      |             st.s + (CAST(r.c AS DOUBLE) - t.mu - t.sigma / 2))
      |             > 3 * t.sigma THEN r.day ELSE NULL END)
      |  FROM st JOIN ranked r ON r.user_id = st.user_id AND r.i = st.i + 1
      |          JOIN stats t ON t.user_id = st.user_id),
      |fin AS (SELECT user_id, s, mx, na, fd FROM st WHERE i = n)
      |SELECT t.user_id, t.n_days,
      |  FLOOR(t.mu / 100 * 1e4 + 0.5) / 1e4 AS mean_daily,
      |  FLOOR(f.s / 100 * 1e4 + 0.5) / 1e4 AS cusum_final,
      |  FLOOR(f.mx / 100 * 1e4 + 0.5) / 1e4 AS cusum_max,
      |  f.na AS alarm_days, f.fd AS first_alarm
      |FROM stats t JOIN fin f ON t.user_id = f.user_id
      |ORDER BY t.user_id""".stripMargin

  /** e28 — sequence-pattern matching (MATCH_RECOGNIZE-lite): each
    * user's event history becomes an ordered single-char journey
    * string (v/c/p/s/e), and per-journey regexes count behavioral
    * motifs — here `v[^pe]*p` (a view converting to purchase with no
    * error or earlier purchase between) and `v[^pe]*e` (a view
    * journey aborted by an error). Output is the (conversions,
    * aborts) → user-count distribution. Regex-over-journeys is the
    * general form of e14's fixed 3-stage funnel: any ordered motif
    * with exclusions is one pattern string, no new plan.
    *
    * The journey build stays inside whole-stage codegen: each event
    * becomes `zero-padded(tsu) ++ zero-padded(event_id) ++ code`, so
    * `array_sort` (lexicographic = chronological, event_id
    * tie-break) + `array_join` + one `regexp_replace` strip yields
    * the ordered code string with NO per-element lambda (the
    * interpreted-HOF pitfall). Patterns exclude their terminators in
    * the character class, so greedy/lazy and RE2/Java semantics
    * coincide — both engines count identical non-overlapping
    * matches.
    *
    * Scale: one shuffle (groupBy user, map-side combined
    * collect_list); journey length is bounded by per-user activity;
    * the regex runs once per user, codegen'd. The distribution agg
    * is a second tiny shuffle on (n_conv, n_abort). */
  private def e28(s: SparkSession, dir: String): DataFrame = {
    val codes = typedLit(Map("view" -> "v", "click" -> "c",
      "purchase" -> "p", "signup" -> "s", "error" -> "e"))
    val seqs = ev(s, dir)
      .select(col("user_id"), format_string("%019d%019d%s",
        unix_micros(col("ts")), col("event_id"),
        // mirror the oracle's CASE … ELSE 'e': an unmapped sixth
        // event type must not become the literal text "null"
        coalesce(element_at(codes, col("event_type")), lit("e"))).as("tok"))
      .groupBy(col("user_id"))
      .agg(regexp_replace(array_join(array_sort(collect_list(col("tok"))), ""),
        "[0-9]", "").as("seq"))
    seqs
      .select(
        org.apache.spark.sql.functions.size(
          regexp_extract_all(col("seq"), lit("v[^pe]*p"), lit(0)))
          .cast("long").as("n_conv"),
        org.apache.spark.sql.functions.size(
          regexp_extract_all(col("seq"), lit("v[^pe]*e"), lit(0)))
          .cast("long").as("n_abort"))
      .groupBy(col("n_conv"), col("n_abort"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_conv"), col("n_abort"))
  }

  private val e28Sql =
    """WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS tsu, event_id,
      |  CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
      |    WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'e' END AS code
      |  FROM events),
      |s AS (SELECT user_id, string_agg(code, '' ORDER BY tsu, event_id) AS seq
      |  FROM e GROUP BY 1),
      |x AS (SELECT
      |  CAST(len(regexp_extract_all(seq, 'v[^pe]*p')) AS BIGINT) AS n_conv,
      |  CAST(len(regexp_extract_all(seq, 'v[^pe]*e')) AS BIGINT) AS n_abort
      |  FROM s)
      |SELECT n_conv, n_abort, COUNT(*) AS n_users
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** e29 — position-based (U-shaped) MULTI-touch attribution, the
    * fractional complement to e24's last-touch: every purchase's
    * revenue splits across its 7-day touch history — 40% first
    * touch, 40% last, 20% spread over the middle (k=1 → 100%,
    * k=2 → 50/50). Per touch type: touch counts and attributed
    * revenue, plus an `unattributed` row for purchases with no
    * history, so the attributed total provably reconciles to total
    * purchase revenue (spec'd).
    *
    * Determinism: weights are exact rationals of k; per-touch
    * amounts are fixed to integer MICRO-units via the s7 floor
    * convention (`floor(cents·w·1e4 + 0.5)`), so the final sums are
    * exact integer arithmetic on both engines — no float-summation
    * order anywhere. First/last resolve ties by (ts, event_id).
    *
    * Scale: the touch join is DAY-BUCKETED (the e11 interval shape):
    * each purchase explodes into the ≤8 UTC day buckets its 7-day
    * lookback can touch, the join keys on (user_id, day) with the
    * exact time range as a residual filter — so one bot-grade hot
    * user spreads over 8 reducers per active day and a join group is
    * bounded by ONE user-day's touches, not the user's whole history.
    * Each (purchase, touch) pair lands in exactly one bucket (the
    * touch's own day), so the explode introduces no duplicates.
    * Per-purchase stats are one keyed agg; no windows over the fact. */
  private def e29(s: SparkSession, dir: String): DataFrame = {
    val week = 7L * 86400 * 1000000
    val dayUs = 86400L * 1000000
    val e = ev(s, dir).withColumn("tsu", unix_micros(col("ts")))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("tsu"),
        (round(dec(col("value")), 2) * 100).cast("long").as("cents"))
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("tsu").as("t_tsu"),
        col("event_id").as("t_eid"), col("event_type").as("ttype"))
      .withColumn("t_day", floor(col("t_tsu") / dayUs))
    val pairs = purchases
      .withColumn("__doff", explode(array((0 to 7).map(lit): _*)))
      .withColumn("t_day", floor(col("tsu") / dayUs) - col("__doff"))
      .join(touches, Seq("user_id", "t_day"))
      .filter(col("t_tsu") < col("tsu") && col("t_tsu") >= col("tsu") - week)
      .drop("t_day", "__doff")
    val stats = pairs.groupBy(col("pid"))
      .agg(count(lit(1)).as("k"),
        min(struct(col("t_tsu"), col("t_eid"))).as("first"),
        max(struct(col("t_tsu"), col("t_eid"))).as("last"))
    val isFirst = struct(col("t_tsu"), col("t_eid")) === col("first")
    val isLast = struct(col("t_tsu"), col("t_eid")) === col("last")
    val w = when(col("k") === 1, lit(1.0))
      .when(col("k") === 2, lit(0.5))
      .when(isFirst || isLast, lit(0.4))
      .otherwise(lit(0.2) / (col("k") - 2).cast("double"))
    val attributed = pairs.join(stats, "pid")
      .select(col("ttype"),
        floor(col("cents").cast("double") * w * 1e4 + 0.5)
          .cast("long").as("micro"))
    val unattributed = purchases
      .join(pairs.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .select(lit("unattributed").as("ttype"),
        (col("cents") * 10000L).as("micro"))
    attributed.unionByName(unattributed)
      .groupBy(col("ttype"))
      .agg(count(lit(1)).as("n_touches"),
        fround(sum(col("micro")).cast("double") / 1e6, 2).as("revenue"))
      .orderBy(col("ttype"))
  }

  private val e29Sql =
    """WITH e AS (SELECT event_id, user_id, event_type, value,
      |    epoch_ns(ts)//1000 AS tsu FROM events),
      |p AS (SELECT event_id AS pid, user_id, tsu,
      |    CAST(ROUND(CAST(value AS DECIMAL(18,2)), 2) * 100 AS BIGINT) AS cents
      |  FROM e WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, tsu AS t_tsu, event_id AS t_eid,
      |    event_type AS ttype FROM e WHERE event_type IN ('view', 'click')),
      |pr AS (SELECT p.pid, p.cents, t.t_tsu, t.t_eid, t.ttype
      |  FROM p JOIN t ON p.user_id = t.user_id
      |    AND t.t_tsu < p.tsu AND t.t_tsu >= p.tsu - 604800000000),
      |st AS (SELECT pid, COUNT(*) AS k,
      |    MIN(ROW(t_tsu, t_eid)) AS frst, MAX(ROW(t_tsu, t_eid)) AS lst
      |  FROM pr GROUP BY pid),
      |att AS (SELECT pr.ttype,
      |    CAST(FLOOR(CAST(pr.cents AS DOUBLE) *
      |      (CASE WHEN st.k = 1 THEN CAST(1.0 AS DOUBLE)
      |            WHEN st.k = 2 THEN CAST(0.5 AS DOUBLE)
      |            WHEN ROW(pr.t_tsu, pr.t_eid) = st.frst
      |              OR ROW(pr.t_tsu, pr.t_eid) = st.lst THEN CAST(0.4 AS DOUBLE)
      |            ELSE CAST(0.2 AS DOUBLE) / CAST(st.k - 2 AS DOUBLE) END)
      |      * 1e4 + 0.5) AS BIGINT) AS micro
      |  FROM pr JOIN st USING (pid)),
      |una AS (SELECT 'unattributed' AS ttype, cents * 10000 AS micro
      |  FROM p WHERE pid NOT IN (SELECT DISTINCT pid FROM pr)),
      |u AS (SELECT * FROM att UNION ALL SELECT * FROM una)
      |SELECT ttype, COUNT(*) AS n_touches,
      |  FLOOR(CAST(SUM(micro) AS DOUBLE) / 1e6 * 1e2 + 0.5) / 1e2 AS revenue
      |FROM u GROUP BY ttype ORDER BY ttype""".stripMargin

  /** e30 — the [[graft.streaming.StreamingTopK]] SpaceSaving summary
    * run as a BATCH driver gate: `flatMapGroupsWithState` on a batch
    * Dataset executes the identical per-group transition with empty
    * initial state, and with capacity (128) ≥ the distinct item count
    * (user_id mod 97 ⇒ ≤ 97 per group) the sketch never evicts — so
    * `est` is the EXACT count, `err` = 0, and `guaranteed` reduces to
    * est ≥ est(k+1-th) — all three oracle-expressible. This pins the
    * est/err/guaranteed contract of the streaming operator against
    * DuckDB, complementing the paper-bound ScalaTest specs that cover
    * the lossy (evicting) regime no SQL oracle can express.
    *
    * Scale: one shuffle keyed by group; per-group state is O(m)
    * regardless of stream length — that bound is the whole point. */
  private def e30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = ev(s, dir)
      .select(col("event_type").as("group"),
        (col("user_id") % 97).cast("long").as("item"),
        lit(1L).as("weight"))
      .as[graft.streaming.StreamingTopK.Obs]
    graft.streaming.StreamingTopK.topK(obs, capacity = 128, k = 5)
      .toDF()
      .select(col("group").as("grp"), col("item"), col("est"), col("err"),
        col("guaranteed"))
      .orderBy(col("grp"), col("item"))
  }

  private val e30Sql =
    """WITH c AS (SELECT event_type AS grp, user_id % 97 AS item,
      |    COUNT(*) AS est FROM events GROUP BY 1, 2),
      |r AS (SELECT grp, item, est,
      |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY est DESC, item) AS rk
      |  FROM c),
      |f AS (SELECT grp, MAX(CASE WHEN rk = 6 THEN est ELSE 0 END) AS floor_est
      |  FROM r GROUP BY grp)
      |SELECT r.grp, CAST(r.item AS BIGINT) AS item, r.est,
      |  CAST(0 AS BIGINT) AS err, r.est >= f.floor_est AS guaranteed
      |FROM r JOIN f USING (grp)
      |WHERE r.rk <= 5
      |ORDER BY r.grp, r.item""".stripMargin

  /** Day-partitioned serving copy of the events fact — the WRITE side
    * of the fact-sink layout (SURVEY §2.8): [[graft.etl.CorpusLayout
    * .writePartitioned]] routes each business day to its own
    * directory (in-file sorted by ts_ns), so calendar filters become
    * PARTITION PRUNING — at 100 TB the dashboard's Today query reads
    * one directory of a 3-year table, not the table. Written once per
    * (session, corpus) to scratch, overwritten per build. */
  private object ServingLayout {
    // onRetire deletes the serving copy on EXPLICIT release (eviction
    // keeps it so an in-flight reader's recompute still finds the
    // files; process exit reclaims it — the path is process-unique via
    // dirTag and registered with deleteDirOnExit). Path tag is md5
    // (dirTag): a hashCode collision would silently serve the other
    // corpus's facts.
    private def root(dir: String): String = sys.props("java.io.tmpdir") +
      "/graft-serving-" + graft.ArtifactRegistry.dirTag(dir)
    private val reg = new graft.ArtifactRegistry[String](
      onRetire = (_, dir) => graft.ArtifactRegistry.deleteDir(root(dir)))
    def apply(s: SparkSession, dir: String): String = reg(s, dir) { _ =>
      val path = root(dir) + "/facts"
      graft.ArtifactRegistry.deleteDirOnExit(root(dir))
      graft.etl.CorpusLayout.writePartitioned(
        Tables(s, dir, "events").withColumn("day",
          date_trunc("DAY", col("ts")).cast("date")),
        path, Seq("day"), Seq("ts_ns"), maxRecordsPerFile = 1 << 20)
      path
    }
  }

  /** e31 — fact serving off the day-partitioned layout: a Today-style
    * calendar filter hits the PARTITION COLUMN, so the scan plans
    * non-empty `PartitionFilters` and touches exactly one directory
    * (PlanAuditSpec locks the pruned-scan shape; this driver gate
    * locks that the served numbers equal the source of truth). */
  private def e31(s: SparkSession, dir: String): DataFrame = {
    val served = Tables.parquet(s, ServingLayout(s, dir))
    served.filter(col("day") === lit(java.sql.Date.valueOf("2024-01-10")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        money(sum(dec(col("value")))).as("sum_value"))
      .orderBy(col("event_type"))
  }

  private val e31Sql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE CAST(ts AS DATE) = DATE '2024-01-10'
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** e32 — 7-day ROLLING DISTINCT users per day, exact + sketch.
    * COUNT(DISTINCT) does not decompose over sliding windows (unlike
    * the sums in e17), which forces one of two scale shapes — this
    * query runs BOTH and reports the sketch's realized error:
    *
    *  - EXACT via contribute-to-window: each distinct (day, user)
    *    row is exploded to the 7 target days it contributes to
    *    (map-side ×7 on the DISTINCT day-user frame — events-sized
    *    input never re-scans per window), then one distinct agg per
    *    target day. Linear, no range join, no window-state blowup.
    *  - KMV bottom-k (k = 256, the q23 sketch) computed in the SAME
    *    aggregation pass as the exact count, over the user-distinct
    *    contributed frame — so the whole contribute-to-window cascade
    *    executes exactly once (the unfused-diamond rule). At scale
    *    the per-day sketches are tiny and mergeable — the rolling
    *    union IS a sketch merge, the shape a serving layer keeps
    *    incrementally (q27's HLL lesson applied to windows).
    *
    * Determinism: md5-derived 52-bit hashes; sketch inputs are
    * distinct per USER, so a 52-bit hash collision ranks with
    * multiplicity — identically on both engines (ROW_NUMBER over h ≡
    * TopKAgg's keep-k-with-duplicates). Estimates rounded to 1e-4,
    * rel_err to 1e-6. Partial leading windows are reported (standard
    * rolling semantics); only days present in the data are
    * emitted. */
  private def e32(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.udaf
    val k = 256
    val bottomk = udaf(new graft.functions.TopKAgg(k))
    val evd = ev(s, dir)
      .select(date_trunc("DAY", col("ts")).cast("date").as("day"), col("user_id"))
    val du = evd.distinct()
    // distinct DAYS from the raw scan, not from du: a second reference
    // to du would re-run its corpus-wide (day, user) exchange per
    // branch (unfused-diamond rule); the raw re-scan collapses
    // map-side to ~|days| rows before its exchange
    val days = evd.select(col("day")).distinct()
    val contrib = du
      .select(col("day"), col("user_id"), explode(expr("sequence(0, 6)")).as("off"))
      .select(date_add(col("day"), col("off")).as("tday"), col("user_id"))
      .join(broadcast(days.withColumnRenamed("day", "tday")), Seq("tday"), "left_semi")
      .distinct()
    // ONE aggregation computes the exact count AND the KMV sketch over
    // the user-distinct contributed frame — the old two-branch shape
    // (countDistinct leg + distinct-hash sketch leg) re-executed the
    // whole contribute-to-window cascade per branch. Sketch inputs are
    // distinct per USER; two users sharing a 52-bit hash now rank with
    // multiplicity on both engines (identically), instead of being
    // pre-collapsed — a ~n²/2⁵³ event the estimate tolerates.
    contrib
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 13), 16, 10)
          .cast("long"))
      .groupBy(col("tday"))
      .agg(count(lit(1)).as("exact_rolling_users"),
        bottomk((-col("h")).cast("double"), col("h")).as("mins"))
      .select(col("tday"), col("exact_rolling_users"),
        (-get(col("mins"), lit(k - 1)).getField("score")).as("hk"),
        expr("size(mins)").cast("double").as("kk"))
      .withColumn("est",
        when(col("hk").isNull, col("kk"))
          .otherwise(lit((k - 1).toDouble) /
            (col("hk") / lit(4503599627370496.0)))) // 2^52
      .select(col("tday").as("day"), col("exact_rolling_users"),
        fround(col("est"), 4).as("kmv_est"),
        fround(abs(col("est") - col("exact_rolling_users")) /
          col("exact_rolling_users"), 6).as("rel_err"))
      .orderBy(col("day"))
  }

  private val e32Sql =
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      |contrib AS (
      |  SELECT DISTINCT du.day + CAST(o.off AS INTEGER) AS tday, du.user_id
      |  FROM du CROSS JOIN (SELECT UNNEST(range(0, 7)) AS off) o
      |  JOIN days d2 ON du.day + CAST(o.off AS INTEGER) = d2.day),
      |ex AS (SELECT tday, COUNT(*) AS exact_rolling_users
      |       FROM contrib GROUP BY tday),
      |hh AS (SELECT tday,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
      |  FROM contrib),
      |r AS (SELECT tday, h,
      |        ROW_NUMBER() OVER (PARTITION BY tday ORDER BY h) AS rn FROM hh),
      |kth AS (SELECT tday, MAX(h) AS hk, COUNT(*) AS kk
      |        FROM r WHERE rn <= 256 GROUP BY tday),
      |est AS (SELECT ex.tday, ex.exact_rolling_users,
      |  CASE WHEN kth.kk < 256 THEN CAST(kth.kk AS DOUBLE)
      |       ELSE CAST(255 AS DOUBLE) /
      |            (CAST(kth.hk AS DOUBLE) / CAST(4503599627370496 AS DOUBLE)) END AS e
      |  FROM ex JOIN kth ON ex.tday = kth.tday)
      |SELECT tday AS day, exact_rolling_users, FLOOR(e * 1e4 + 0.5) / 1e4 AS kmv_est,
      |  FLOOR(ABS(e - exact_rolling_users) / exact_rolling_users * 1e6 + 0.5) / 1e6 AS rel_err
      |FROM est ORDER BY day""".stripMargin

  /** e33 — out-of-orderness / WATERMARK CALIBRATION audit. Streaming
    * jobs (the §2.9 twins) need a watermark wide enough to keep late
    * data and tight enough to bound state; the principled choice is a
    * high quantile of observed event-time disorder. The driver's
    * synthetic stream is perfectly time-ordered (measured: zero
    * disorder in `event_id` order), so the audit replays it through
    * the thing that creates disorder in production — a PARTITIONED
    * transport with per-partition consumer lag: partition `user_id %
    * 8` (the Kafka key-hash shape), partition p delivering with a
    * fixed p×30 s lag, FIFO within partitions. A row's lateness is
    * how far the merged event-time high-water mark had advanced past
    * its own event time at delivery — `max(ts) over delivery order,
    * exclusive` minus own ts, floored at 0. Reported per transport
    * partition (THE consumer-lag dashboard): late fraction, max, and
    * exact rank-based p50/p99 lateness in µs (p99 = the
    * `withWatermark` delay that keeps 99% of that partition; integer
    * rank predicates `cum*100 >= n*99`, no float quantiles).
    *
    * Scale shape: the global running max uses [[graft.operators
    * .OffsetWindow.prefixMaxExcl]] — per-bucket local windows plus a
    * broadcast exclusive max over one row per (day) bucket — NEVER a
    * single-partition global window (the PlanAuditSpec funnel). The
    * quantiles aggregate per-(partition, late_us) counts — cardinality
    * is distinct lateness values, not events — through a partitioned
    * cumulative window. Everything is exact integer µs arithmetic. */
  private def e33(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), expr("ts_ns div 1000").as("ts_us"),
        (col("user_id") % 8).as("part"))
      .withColumn("delivery_us", col("ts_us") + col("part") * lit(30000000L))
    val lat = graft.operators.OffsetWindow.prefixMaxExcl(
        ev, Seq.empty, expr("delivery_us div 86400000000"),
        Seq(col("delivery_us"), col("event_id")), col("ts_us"), "hw")
      .withColumn("late_us",
        greatest(lit(0L), coalesce(col("hw"), lit(0L)) - col("ts_us")))
    val counts = lat.groupBy(col("part"), col("late_us"))
      .agg(count(lit(1)).as("cnt"))
    // per-partition total as a WINDOW over the same counts frame, not
    // a second aggregation branch: `counts` embeds the whole lateness
    // cascade, and an unfused second reference would re-execute it
    // end-to-end (the t28 lesson; locked by the diamond audit below)
    val wCum = Window.partitionBy(col("part")).orderBy(col("late_us"))
    val cum = counts
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("part"))))
    cum.groupBy(col("part"), col("n"))
      .agg(
        sum(when(col("late_us") > 0, col("cnt")).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_late_us"),
        graft.operators.SelectionQuantile.pickAtFrac(
          col("late_us"), col("cum"), col("n"), 1, 2).as("p50_us"),
        graft.operators.SelectionQuantile.pickAtFrac(
          col("late_us"), col("cum"), col("n"), 99, 100).as("p99_us"))
      .select(col("part"), col("n"), col("n_late"),
        fround(col("n_late").cast("double") / col("n"), 6).as("late_frac"),
        col("max_late_us"), col("p50_us"), col("p99_us"))
      .orderBy(col("part"))
  }

  private val e33Sql =
    """WITH ev AS (
      |  SELECT event_id, epoch_ns(ts)//1000 AS ts_us, user_id % 8 AS part,
      |    epoch_ns(ts)//1000 + (user_id % 8) * 30000000 AS delivery_us
      |  FROM events),
      |lat AS (
      |  SELECT part,
      |    GREATEST(0, COALESCE(MAX(ts_us) OVER (ORDER BY delivery_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) - ts_us)
      |      AS late_us
      |  FROM ev),
      |counts AS (
      |  SELECT part, late_us, COUNT(*) AS cnt
      |  FROM lat GROUP BY part, late_us),
      |cum AS (
      |  SELECT part, late_us, cnt,
      |    SUM(cnt) OVER (PARTITION BY part ORDER BY late_us) AS cum,
      |    SUM(cnt) OVER (PARTITION BY part) AS n
      |  FROM counts)
      |SELECT part, CAST(n AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN late_us > 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_late,
      |  FLOOR(CAST(SUM(CASE WHEN late_us > 0 THEN cnt ELSE 0 END) AS DOUBLE)
      |        / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS late_frac,
      |  MAX(late_us) AS max_late_us,
      |  MIN(CASE WHEN cum * 2 >= n THEN late_us END) AS p50_us,
      |  MIN(CASE WHEN cum * 100 >= n * 99 THEN late_us END) AS p99_us
      |FROM cum GROUP BY part, n
      |ORDER BY part""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e33_late_audit" -> e33,
    "e32_rolling_distinct" -> e32,
    "e31_day_serving"    -> e31,
    "e30_topk_exact"     -> e30,
    "e29_multitouch"     -> e29,
    "e28_pattern_match"  -> e28,
    "e27_cusum_drift"    -> e27,
    "e26_seasonal_index" -> e26,
    "e25_holt_trend"     -> e25,
    "e24_attribution"    -> e24,
    "e23_incr_rollup"    -> e23,
    "e22_ema_smooth"     -> e22,
    "e21_zscore_anomaly" -> e21,
    "e19_gapfill"       -> e19,
    "e20_transitions"   -> e20,
    "e18_asof_forward"  -> e18,
    "e1_scoreboard"     -> e1,
    "e2_json_extract"   -> e2,
    "e3_hourly_rollup"  -> e3,
    "e4_firstwins_dedup" -> e4,
    "e5_ledger_antijoin" -> e5,
    "e6_sessionize"     -> e6,
    "e7_pivot"          -> e7,
    "e8_dim_date"       -> e8,
    "e9_asof_join"      -> e9,
    "e10_asof_operator" -> e10,
    "e11_interval_join" -> e11,
    "e12_salted_rollup" -> e12,
    "e13_cohort_retention" -> e13,
    "e14_funnel" -> e14,
    "e15_shift_pace" -> e15,
    "e16_salted_join" -> e16,
    "e17_trailing_window" -> e17)

  override def oracle: Map[String, String] = Map(
    "e33_late_audit" -> e33Sql,
    "e32_rolling_distinct" -> e32Sql,
    "e31_day_serving"    -> e31Sql,
    "e30_topk_exact"     -> e30Sql,
    "e29_multitouch"     -> e29Sql,
    "e28_pattern_match"  -> e28Sql,
    "e27_cusum_drift"    -> e27Sql,
    "e26_seasonal_index" -> e26Sql,
    "e25_holt_trend"     -> e25Sql,
    "e24_attribution"    -> e24Sql,
    "e23_incr_rollup"    -> e23Sql,
    "e22_ema_smooth"     -> e22Sql,
    "e21_zscore_anomaly" -> e21Sql,
    "e19_gapfill"       -> e19Sql,
    "e20_transitions"   -> e20Sql,
    "e18_asof_forward"  -> e18Sql,
    "e1_scoreboard"     -> e1Sql,
    "e2_json_extract"   -> e2Sql,
    "e3_hourly_rollup"  -> e3Sql,
    "e4_firstwins_dedup" -> e4Sql,
    "e5_ledger_antijoin" -> e5Sql,
    "e6_sessionize"     -> e6Sql,
    "e7_pivot"          -> e7Sql,
    "e8_dim_date"       -> e8Sql,
    "e9_asof_join"      -> e9Sql,
    "e10_asof_operator" -> e9Sql,
    "e11_interval_join" -> e11Sql,
    "e12_salted_rollup" -> e12Sql,
    "e13_cohort_retention" -> e13Sql,
    "e14_funnel" -> e14Sql,
    "e15_shift_pace" -> e15Sql,
    "e16_salted_join" -> e16Sql,
    "e17_trailing_window" -> e17Sql)
}
