package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}

/** Time-window operators over the append-only `events` stream table —
  * the batch-equivalent plans of the Structured Streaming pipelines in
  * graft.streaming (SURVEY §2.7: the reference's daily grain is a
  * calendar tumbling window; the micro-batch scheduler is
  * Trigger.AvailableNow). All window math is exact epoch-micros integer
  * arithmetic so the DuckDB oracle matches bit-for-bit.
  */
object EventOps {

  import Relational.cents

  // ---------------------------------------------------------------------
  // ev1_tumbling — 1-hour tumbling window aggregation (streaming
  // equivalent: groupBy(window($"ts", "1 hour"), $"event_type")).
  private def ev1Tumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      .orderBy("h", "event_type")

  private val ev1Sql =
    """SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // ev2_sliding — 1-hour windows sliding every 30 minutes: each event
  // lands in 2 windows (k ∈ {0,1}); window start on the 30-minute grid,
  // computed in integer micros (portable across engines; the streaming
  // twin is window($"ts", "1 hour", "30 minutes")).
  private def ev2Sliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(unix_micros(col("ts")).as("us"), col("event_type"), cents(col("value")).as("vc"))
      .withColumn("k", explode(array(lit(0L), lit(1L))))
      .withColumn("w_start_us",
        expr("((us - k*1800000000) div 3600000000) * 3600000000 + k*1800000000"))
      .groupBy("w_start_us")
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("value_cents"))
      .orderBy("w_start_us")

  private val ev2Sql =
    """WITH x AS (
      |  SELECT epoch_us(ts) AS us, CAST(round(value*100,0) AS BIGINT) AS vc, u.k
      |  FROM events, UNNEST([0, 1]) AS u(k)),
      |w AS (SELECT ((us - k*1800000000) // 3600000000) * 3600000000 + k*1800000000 AS w_start_us, vc FROM x)
      |SELECT w_start_us, COUNT(*) AS n, CAST(SUM(vc) AS BIGINT) AS value_cents
      |FROM w GROUP BY 1 ORDER BY w_start_us""".stripMargin

  // ---------------------------------------------------------------------
  // ev3_session_window — gap-based session windows (30 min) with session
  // ids via cumulative sum of session-start flags; per-session start/end/
  // size. Streaming twin: session_window($"ts", "30 minutes") /
  // flatMapGroupsWithState (graft.streaming.Streams).
  private def ev3SessionWindow(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(wOrd) <= 1800000000L, 0L).otherwise(1L))
      .withColumn("sid", sum(col("new_sess")).over(wCum))
      .groupBy("user_id", "sid")
      .agg(
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "sid")
  }

  private val ev3Sql =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) <= 1800000000
      |         THEN 0 ELSE 1 END AS new_sess
      |  FROM events),
      |sid AS (SELECT user_id, us,
      |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g)
      |SELECT user_id, CAST(sid AS BIGINT) AS sid,
      | min(us) AS start_us, max(us) AS end_us, COUNT(*) AS n_events
      |FROM sid GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin

  // ---------------------------------------------------------------------
  // ev4_funnel — conversion funnel: per user's FIRST signup, did any
  // purchase land within the following 7 days; cohorted by signup day.
  // Two small pre-aggregations then one join on user_id (both sides
  // shrink before the shuffle — the scalable funnel layout); all window
  // math in exact epoch-micros integers.
  private def ev4Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("sus"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("pus"))
    su.join(pu, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("sus"))
      .agg(max(when(col("pus") >= col("sus") &&
        col("pus") <= col("sus") + 604800000000L, 1L).otherwise(0L)).as("converted"))
      .groupBy(expr("sus div 86400000000").as("day_num"))
      .agg(
        count(lit(1)).as("n_signups"),
        sum(col("converted")).as("n_converted"),
        (sum(col("converted")).cast("double") / count(lit(1))).as("conv_frac"))
      .orderBy("day_num")
  }

  private val ev4Sql =
    """WITH su AS (SELECT user_id, MIN(epoch_us(ts)) AS sus FROM events
      |            WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (SELECT user_id, epoch_us(ts) AS pus FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT su.user_id, sus,
      |        MAX(CASE WHEN pus >= sus AND pus <= sus + 604800000000 THEN 1 ELSE 0 END) AS converted
      |      FROM su LEFT JOIN pu ON pu.user_id = su.user_id GROUP BY 1, 2)
      |SELECT sus // 86400000000 AS day_num, COUNT(*) AS n_signups,
      |  CAST(SUM(converted) AS BIGINT) AS n_converted,
      |  CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS conv_frac
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // ev5_interval_join — keyless range join: for every user session
  // (ev3's windows), count system-wide error events inside its
  // [start, end] interval. Without an equi-key Catalyst would plan a
  // broadcast-nested-loop; bucketizing time to 1-hour cells turns it
  // into an equi-join on the cell (sessions explode to the cells they
  // overlap, errors hash to their cell), then the exact range predicate
  // filters and (session, event) pairs dedupe — the standard scalable
  // interval-join layout. Growth rides output cardinality, not the plan
  // (ScaleProbe `skew:ev5` arm, last at commit 561c6b9; sf0.1 base,
  // warm): 1× 2.26 s / 51.5k pairs; 10× copies in disjoint time bands
  // 2.64 s / 515k pairs; 10× copies in the same span 3.97 s / 5.15M pairs.
  private def ev5IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    // referenced twice (cell explode + final left join) — materialize the
    // window-heavy session derivation once
    val sessions = ev3SessionWindow(s, d)
      .select(col("user_id"), col("sid"), col("start_us"), col("end_us"))
      .localCheckpoint()
    val errors = Tables.events(s, d).filter(col("event_type") === "error")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("cell", expr(s"us div $hourUs"))
    val exploded = sessions
      .withColumn("cell", explode(sequence(
        expr(s"start_us div $hourUs"), expr(s"end_us div $hourUs"))))
    val matched = exploded.join(errors, Seq("cell"))
      .filter(col("us") >= col("start_us") && col("us") <= col("end_us"))
      .select("user_id", "sid", "event_id").distinct()
      .groupBy("user_id", "sid").agg(count(lit(1)).as("n_errors"))
    sessions.join(matched, Seq("user_id", "sid"), "left")
      .select(col("user_id"), col("sid"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"))
      .orderBy("user_id", "sid")
  }

  private val ev5Sql =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) <= 1800000000
      |         THEN 0 ELSE 1 END AS new_sess
      |  FROM events),
      |sid AS (SELECT user_id, us,
      |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g),
      |sess AS (SELECT user_id, CAST(sid AS BIGINT) AS sid,
      |  min(us) AS start_us, max(us) AS end_us
      |  FROM sid GROUP BY user_id, sid),
      |err AS (SELECT event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'error')
      |SELECT s.user_id, s.sid, COUNT(e.event_id) AS n_errors
      |FROM sess s LEFT JOIN err e ON e.us >= s.start_us AND e.us <= s.end_us
      |GROUP BY s.user_id, s.sid ORDER BY s.user_id, s.sid""".stripMargin

  // ---------------------------------------------------------------------
  // ev6_cohort_retention — classic cohort analysis: users grouped by the
  // week of their FIRST event (acquisition cohort), each later event
  // bucketed by whole weeks since that first week, distinct users counted
  // per (cohort_week, weeks_since) cell. All bucketing is exact integer
  // day arithmetic from a fixed epoch (no tz/week-start conventions to
  // disagree on between engines).
  //
  // Scale: per-user MIN partial-aggregates map-side (one shuffle on
  // user_id), the first-week frame joins back on the same user_id key
  // (co-partitioned — AQE reuses the exchange), and the final cell count
  // is a single distinct-count shuffle on the (cohort, week) grid. No
  // windows, no expand: the plan a 100 TB event store wants.
  private def ev6CohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("1990-01-01")))
          .cast("long").as("d0"))
    val first = ev.groupBy("user_id").agg(min("d0").as("f0"))
    ev.join(first, "user_id")
      .select(col("user_id"), expr("f0 div 7").as("cohort_w"),
        expr("(d0 - f0) div 7").as("weeks_since"))
      .groupBy("cohort_w", "weeks_since")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_w", "weeks_since")
  }

  private val ev6Sql =
    """WITH ev AS (SELECT user_id,
      |    CAST(date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS BIGINT) AS d0
      |  FROM events),
      |f AS (SELECT user_id, MIN(d0) AS f0 FROM ev GROUP BY 1)
      |SELECT f0 // 7 AS cohort_w, (d0 - f0) // 7 AS weeks_since,
      |  COUNT(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_w, weeks_since""".stripMargin

  // ---------------------------------------------------------------------
  // ev7_anomaly — trailing-window anomaly flags on the hourly event-count
  // series: an hour is anomalous when its count deviates from the
  // trailing-24h mean by more than 3 standard deviations. The z-test is
  // done in EXACT integer arithmetic by cross-multiplication —
  // (n·c − s)² > 9·(n·q − s²), with (n, s, q) = count/sum/sum-of-squares
  // of the trailing RANGE frame over the integer hour index — so no
  // float mean/stddev ever materializes and both engines flag
  // identically. Requires ≥ 8 trailing hours to damp cold-start noise.
  //
  // Scale: the window runs over the HOURLY series, not events — its row
  // count is bounded by elapsed time (~9k rows/year) no matter how many
  // events feed it, so the unpartitioned ordered frame is bounded by
  // calendar, not data volume; the event-level work is one
  // map-side-combined groupBy(hour).
  private def ev7Anomaly(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy("h_idx").rangeBetween(-24, -1)
    Tables.events(s, d)
      .groupBy(expr("unix_micros(ts) div 3600000000L").as("h_idx")) // exact int div
      .agg(count(lit(1)).as("c"))
      .withColumn("n", count(col("c")).over(w))
      .withColumn("s", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("q", coalesce(sum(col("c") * col("c")).over(w), lit(0L)))
      .select(col("h_idx"), col("c"), col("n"),
        (col("n") >= 8L &&
          (col("n") * col("c") - col("s")) * (col("n") * col("c") - col("s")) >
            lit(9L) * (col("n") * col("q") - col("s") * col("s"))).as("anomaly"))
      .orderBy("h_idx")
  }

  private val ev7Sql =
    """WITH hc AS (SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h_idx,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1),
      |f AS (SELECT h_idx, c,
      |    COUNT(c) OVER tw AS n,
      |    CAST(COALESCE(SUM(c) OVER tw, 0) AS BIGINT) AS s,
      |    CAST(COALESCE(SUM(c*c) OVER tw, 0) AS BIGINT) AS q
      |  FROM hc
      |  WINDOW tw AS (ORDER BY h_idx RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT h_idx, c, n,
      |  n >= 8 AND (n*c - s)*(n*c - s) > 9*(n*q - s*s) AS anomaly
      |FROM f ORDER BY h_idx""".stripMargin

  // ---------------------------------------------------------------------
  // ev8_transitions — the event-type transition matrix (first-order
  // Markov counts): for each user's time-ordered event sequence, count
  // (from_type → to_type) steps; emit the matrix with per-row totals.
  // The denominator rides along as an exact integer (n_from) so a
  // consumer derives probabilities without any float aggregate.
  //
  // Scale: the per-user lead() window shuffles events once on user_id
  // (each user's sequence sorts independently); everything after is
  // matrix-sized (|event_types|² rows) — the n_from window runs over
  // that tiny frame, not the event stream.
  private def ev8Transitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    tr.groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("n_from",
        sum(col("n_trans")).over(Window.partitionBy("from_type")))
      .orderBy("from_type", "to_type")
  }

  private val ev8Sql =
    """WITH tr AS (SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, COUNT(*) AS n_trans
      |  FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n_trans,
      |  CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT) AS n_from
      |FROM c ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------------
  // ev9_scd2_history — slowly-changing-dimension (type 2) history build
  // from a change stream: per user, derive the activity tier from each
  // event, collapse consecutive repeats (lag ≠ current keeps only CHANGE
  // rows), then version the survivors with valid_from/valid_to windows
  // (lead of the next change; NULL = current row). The textbook
  // versioned-dimension derivation every warehouse needs next to its
  // star schema — dim_media/dim_visitor here are type-1 overwrites; this
  // is the type-2 twin with full history.
  //
  // Scale: ONE user_id shuffle — the change-collapse lag, the version
  // row_number and the valid_to lead all share the same (user_id ×
  // (ts, event_id)) window clustering, and the filter between them
  // preserves partitioning; everything after the collapse runs on the
  // (small) change-row frame. Timestamps exported as exact epoch micros
  // (the ev-family convention).
  private def ev9Scd2History(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tier = when(col("value") < 10.0, "low")
      .when(col("value") < 100.0, "mid").otherwise("high")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), tier.as("tier"))
      .withColumn("prev", lag(col("tier"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("tier"))
      .withColumn("valid_from", unix_micros(col("ts")))
      .withColumn("valid_to", lead(unix_micros(col("ts")), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col("user_id"), col("version"), col("tier"),
        col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  private val ev9Sql =
    """WITH t AS (SELECT user_id, epoch_us(ts) AS us, event_id,
      |    CASE WHEN value < 10 THEN 'low'
      |         WHEN value < 100 THEN 'mid' ELSE 'high' END AS tier
      |  FROM events),
      |c AS (SELECT *, lag(tier) OVER
      |    (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM t),
      |ch AS (SELECT user_id, us, event_id, tier FROM c
      |  WHERE prev IS NULL OR prev <> tier)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS BIGINT) AS version,
      |  tier, us AS valid_from,
      |  lead(us) OVER w AS valid_to,
      |  (lead(us) OVER w IS NULL) AS is_current
      |FROM ch
      |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |ORDER BY user_id, version""".stripMargin

  // ---------------------------------------------------------------------
  // ev10_attribution — first-/last-touch conversion attribution: for
  // each `purchase` event, credit the FIRST and the LAST strictly-
  // preceding touch event (`click`/`view`) by the same user — the
  // standard marketing-attribution query every event warehouse runs
  // next to its funnel (ev4). first/last IGNORE NULLS over the
  // strictly-preceding row frame is exact and deterministic because
  // rows are totally ordered by (ts, event_id) within each user
  // partition; purchases with no prior touch emit NULL touch columns
  // (identically in both engines).
  //
  // Scale: ONE user_id shuffle — all five window expressions share the
  // same (user_id × (ts, event_id)) sort and frame, the purchase filter
  // runs after the windows and preserves partitioning, and the output
  // is purchase-row sized. Timestamps export as exact epoch micros.
  private def ev10Attribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = col("event_type").isin("click", "view")
    val tid = when(touch, col("event_id"))
    val tus = when(touch, unix_micros(col("ts")))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("first_touch_id", first(tid, ignoreNulls = true).over(w))
      .withColumn("first_touch_us", first(tus, ignoreNulls = true).over(w))
      .withColumn("last_touch_id", last(tid, ignoreNulls = true).over(w))
      .withColumn("last_touch_us", last(tus, ignoreNulls = true).over(w))
      .withColumn("n_touches", count(tid).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        col("first_touch_id"), col("first_touch_us"),
        col("last_touch_id"), col("last_touch_us"), col("n_touches"))
      .orderBy("purchase_id")
  }

  private val ev10Sql =
    """WITH t AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
      |    CASE WHEN event_type IN ('click', 'view') THEN event_id END AS tid,
      |    CASE WHEN event_type IN ('click', 'view') THEN epoch_us(ts) END AS tus
      |  FROM events),
      |a AS (SELECT user_id, us, event_id, event_type,
      |    first_value(tid IGNORE NULLS) OVER w AS first_touch_id,
      |    first_value(tus IGNORE NULLS) OVER w AS first_touch_us,
      |    last_value(tid IGNORE NULLS) OVER w AS last_touch_id,
      |    last_value(tus IGNORE NULLS) OVER w AS last_touch_us,
      |    COUNT(tid) OVER w AS n_touches
      |  FROM t
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_id AS purchase_id, user_id, us AS purchase_us,
      |  first_touch_id, first_touch_us, last_touch_id, last_touch_us,
      |  n_touches
      |FROM a WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("ev10_attribution", ev10Attribution, Some(ev10Sql)),
    Q("ev9_scd2_history", ev9Scd2History, Some(ev9Sql)),
    Q("ev8_transitions", ev8Transitions, Some(ev8Sql)),
    Q("ev7_anomaly", ev7Anomaly, Some(ev7Sql)),
    Q("ev6_cohort_retention", ev6CohortRetention, Some(ev6Sql)),
    Q("ev1_tumbling", ev1Tumbling, Some(ev1Sql)),
    Q("ev2_sliding", ev2Sliding, Some(ev2Sql)),
    Q("ev3_session_window", ev3SessionWindow, Some(ev3Sql)),
    Q("ev4_funnel", ev4Funnel, Some(ev4Sql)),
    Q("ev5_interval_join", ev5IntervalJoin, Some(ev5Sql)))
}
