package graft.wistia

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Oracle gate for the faithful Wistia star-schema transforms
  * (reference process_wistia_data_v2.py:240-530): w1_dim_media,
  * w2_dim_visitor, w3_fact_engagement run the REAL [[Transforms]]
  * functions (incl. [[WatchTime.windowed]] with the /100 quirk) over a
  * deterministic Wistia-shaped derivation of the driver corpus, and the
  * DuckDB oracles reimplement the reference semantics end-to-end in SQL
  * — so the driver's CORRECTNESS gate executes the star build itself,
  * not just generalized analogues (round-1 verdict item 1).
  *
  * Derivation design notes (each choice is load-bearing for the exact
  * value compare):
  *  - received_at = date_trunc(hour, ts): tie-runs occur naturally
  *    (several events per (media, visitor, date) group share an hour),
  *    exercising the state machine's tie semantics and the
  *    (timestamp, event_key) ordering contract; elapsed times are whole
  *    seconds (exact doubles).
  *  - percent_viewed = (event_id % 164) · 25/4096: exact dyadic
  *    fractions in [0, 1). Δpct, Δpct/100 (the faithful quirk divisor)
  *    and Δpct/100·duration are then all IEEE-exact (durations are
  *    integers), so watch-time credit sums are order-independent and
  *    bit-equal between Spark and DuckDB.
  *  - durations are whole seconds with a zero-duration media (wm3) and
  *    an out-of-dim media (wm6, filtered by the target IN-list) to
  *    exercise the zero/missing-duration guards.
  *  - null/'' patterns on visitor_key/ip/country/percent/name cover the
  *    validity filters, first-non-null-in-time-order, and the
  *    play-count fallback (A2) paths.
  */
object WistiaGate {

  /** 2026-01-01T00:00:00Z — instant-based so the JVM default zone can't
    * skew the lit() (Verify runs with session TZ UTC).
    */
  private val ingestionTs =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1767225600L))

  private val targetIds: Seq[String] =
    (1 to 40).filter(_ % 6 != 0).map(k => s"wm$k")

  /** Wistia media-list records (FIXTURES.md A2 shape) derived from
    * `part`: 40 medias, suffixed titles covering every channel branch,
    * some null titles, zero/null durations, project struct.
    */
  def rawMedia(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val suffix = when(k % 5 === 0, " Facebook Ads")
      .when(k % 5 === 1, " FB clip")
      .when(k % 5 === 2, " Youtube cut")
      .when(k % 5 === 3, " YT short")
      .otherwise("")
    Tables.part(s, d)
      .filter(k.between(1, 40))
      .select(
        k.as("id"),
        concat(lit("wm"), k.cast("string")).as("hashed_id"),
        when(k % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(col("p_name"), suffix)).as("name"),
        timestamp_seconds(lit(1704067200L) + k * 86400L).as("created"),
        timestamp_seconds(lit(1704067200L) + k * 86400L + 3600L).as("updated"),
        when(k === 3, 0.0)
          .when(k % 11 === 0, lit(null).cast("double"))
          .otherwise((lit(896L) + (k % 7) * 128L).cast("double")).as("duration"),
        lit("Video").as("type"),
        struct(
          (k % 4).as("id"),
          concat(lit("proj"), (k % 4).cast("string")).as("name")).as("project"))
  }

  /** Wistia event records (FIXTURES.md A1 shape) derived from `events`.
    * media follows user_id % 8 while visitor collapses user_id % 32, so
    * each (media, visitor, date) group holds the events of ~5 users —
    * real multi-event watch sessions.
    */
  def rawEvents(s: SparkSession, d: String): DataFrame = {
    val e = col("event_id")
    val u = col("user_id")
    Tables.events(s, d)
      .select(
        date_trunc("hour", col("ts")).as("received_at"),
        concat(lit("ek"), e.cast("string")).as("event_key"),
        when(e % 29 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("v"), (u % 32).cast("string"))).as("visitor_key"),
        concat(lit("wm"), (u % 8 + 1).cast("string")).as("media_id"),
        when(e % 17 === 0, lit(null).cast("double"))
          .otherwise((e % 164).cast("double") * 0.006103515625).as("percent_viewed"),
        when(col("event_type") === "view", "play")
          .when(col("event_type") === "click", "pause")
          .when(col("event_type") === "purchase", "end")
          .otherwise(lit(null).cast("string")).as("name"),
        when(e % 7 === 0, lit(null).cast("string"))
          .when(e % 11 === 0, lit(""))
          .otherwise(concat(lit("10."), u.cast("string"), lit("."),
            (e % 250).cast("string"), lit("."), (e % 13).cast("string"))).as("ip"),
        when(e % 5 === 1, "US").when(e % 5 === 2, "DE")
          .when(e % 5 === 3, "IN").when(e % 5 === 4, "BR")
          .otherwise(lit(null).cast("string")).as("country"),
        concat(lit("r"), (u % 10).cast("string")).as("region"),
        concat(lit("c"), (u % 50).cast("string")).as("city"),
        struct(
          when(u % 3 === 0, "Chrome").when(u % 3 === 1, "Safari")
            .otherwise("Firefox").as("browser"),
          lit("1.0").as("browser_version"),
          when(u % 2 === 0, "Mac").otherwise("Win").as("platform"),
          (u % 4 === 0).as("mobile")).as("user_agent_details"))
  }

  // ---------------------------------------------------------------------
  private def w1DimMedia(s: SparkSession, d: String): DataFrame =
    Transforms.dimMedia(rawMedia(s, d), targetIds, ingestionTs)
      .orderBy("media_id")

  /** The raw-media derivation as a DuckDB CTE body (one row per media,
    * flat columns — the oracle recomputes outputs, it never needs the
    * struct shape).
    */
  private val mediaCte =
    """m AS (
      |  SELECT p_partkey AS k,
      |    CASE WHEN p_partkey % 7 = 0 THEN NULL
      |         ELSE p_name || CASE p_partkey % 5
      |           WHEN 0 THEN ' Facebook Ads' WHEN 1 THEN ' FB clip'
      |           WHEN 2 THEN ' Youtube cut' WHEN 3 THEN ' YT short'
      |           ELSE '' END END AS name,
      |    CASE WHEN p_partkey = 3 THEN 0.0
      |         WHEN p_partkey % 11 = 0 THEN NULL
      |         ELSE CAST(896 + (p_partkey % 7) * 128 AS DOUBLE) END AS duration
      |  FROM part WHERE p_partkey BETWEEN 1 AND 40)""".stripMargin

  private val w1Sql =
    s"""WITH $mediaCte
       |SELECT 'wm' || CAST(k AS VARCHAR) AS media_id,
       |  CAST(k AS BIGINT) AS wistia_id,
       |  COALESCE(name, '') AS title,
       |  CAST(NULL AS VARCHAR) AS url,
       |  make_timestamp(CAST(1704067200 + k*86400 AS BIGINT) * 1000000) AS created_at,
       |  duration,
       |  'Video' AS type,
       |  CAST(k % 4 AS BIGINT) AS project_id,
       |  'proj' || CAST(k % 4 AS VARCHAR) AS project_name,
       |  CASE WHEN COALESCE(name, '') <> '' AND (name LIKE '%Facebook%' OR name LIKE '%FB%') THEN 'Facebook'
       |       WHEN COALESCE(name, '') <> '' AND (name LIKE '%Youtube%' OR name LIKE '%YT%') THEN 'YouTube'
       |       ELSE NULL END AS channel,
       |  make_timestamp(CAST(1704067200 + k*86400 + 3600 AS BIGINT) * 1000000) AS updated_at,
       |  make_timestamp(1767225600000000) AS ingestion_timestamp
       |FROM m WHERE k % 6 <> 0
       |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------------
  private def w2DimVisitor(s: SparkSession, d: String): DataFrame =
    Transforms.dimVisitor(rawEvents(s, d), ingestionTs)
      .orderBy("visitor_id")

  /** The raw-events derivation as a DuckDB CTE body (mirrors
    * [[rawEvents]] exactly; user-agent struct flattened).
    */
  private val eventsCte =
    """e AS (
      |  SELECT date_trunc('hour', ts) AS received_at,
      |    'ek' || CAST(event_id AS VARCHAR) AS event_key,
      |    CASE WHEN event_id % 29 = 0 THEN NULL
      |         ELSE 'v' || CAST(user_id % 32 AS VARCHAR) END AS visitor_key,
      |    'wm' || CAST(user_id % 8 + 1 AS VARCHAR) AS media_id,
      |    CASE WHEN event_id % 17 = 0 THEN NULL
      |         ELSE CAST(event_id % 164 AS DOUBLE) * 0.006103515625 END AS pct,
      |    CASE event_type WHEN 'view' THEN 'play' WHEN 'click' THEN 'pause'
      |         WHEN 'purchase' THEN 'end' ELSE NULL END AS name,
      |    CASE WHEN event_id % 7 = 0 THEN NULL
      |         WHEN event_id % 11 = 0 THEN ''
      |         ELSE '10.' || CAST(user_id AS VARCHAR) || '.' ||
      |              CAST(event_id % 250 AS VARCHAR) || '.' ||
      |              CAST(event_id % 13 AS VARCHAR) END AS ip,
      |    CASE event_id % 5 WHEN 1 THEN 'US' WHEN 2 THEN 'DE'
      |         WHEN 3 THEN 'IN' WHEN 4 THEN 'BR' ELSE NULL END AS country,
      |    'r' || CAST(user_id % 10 AS VARCHAR) AS region,
      |    'c' || CAST(user_id % 50 AS VARCHAR) AS city,
      |    CASE user_id % 3 WHEN 0 THEN 'Chrome' WHEN 1 THEN 'Safari'
      |         ELSE 'Firefox' END AS browser,
      |    CASE user_id % 2 WHEN 0 THEN 'Mac' ELSE 'Win' END AS platform,
      |    user_id % 4 = 0 AS mobile
      |  FROM events)""".stripMargin

  private val w2Sql =
    s"""WITH $eventsCte,
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY visitor_key ORDER BY received_at, event_key) AS rn
       |  FROM e WHERE visitor_key IS NOT NULL AND visitor_key <> '')
       |SELECT visitor_key AS visitor_id, ip AS ip_address, country, region, city,
       |  browser AS user_agent_browser, platform AS user_agent_platform,
       |  mobile AS user_agent_mobile,
       |  make_timestamp(1767225600000000) AS ingestion_timestamp
       |FROM r WHERE rn = 1 ORDER BY visitor_id""".stripMargin

  // ---------------------------------------------------------------------
  private def w3Fact(s: SparkSession, d: String): DataFrame = {
    val durations = Transforms.dimMedia(rawMedia(s, d), targetIds, ingestionTs)
      .select(col("media_id"), col("duration"))
    Transforms.factMediaEngagement(rawEvents(s, d), durations, ingestionTs)
      .orderBy("media_id", "visitor_id", "date")
  }

  /** Full fact oracle: the A1–A7 aggregation plus the run-collapsed A6
    * state machine (same model as [[WatchTime.windowed]]'s scaladoc:
    * per tie-run fold of (started, fresh-anchor, started-anchor), then
    * a lag window over unique run timestamps).
    */
  private val w3Sql =
    s"""WITH $eventsCte,
       |$mediaCte,
       |dur AS (
       |  SELECT 'wm' || CAST(k AS VARCHAR) AS media_id, duration
       |  FROM m WHERE k % 6 <> 0),
       |v AS (
       |  SELECT e.*, dur.duration, CAST(received_at AS DATE) AS dt,
       |         epoch_us(received_at) AS us
       |  FROM e LEFT JOIN dur USING (media_id)
       |  WHERE media_id IS NOT NULL AND visitor_key IS NOT NULL
       |    AND received_at IS NOT NULL),
       |runs0 AS (
       |  SELECT media_id, visitor_key, dt, us,
       |    arg_min(struct_pack(p := pct, n := name), event_key) AS f0,
       |    max(duration) AS duration,
       |    bool_or(pct > 0 OR COALESCE(name = 'play', false)) AS has_start,
       |    min(event_key) FILTER (WHERE pct > 0 OR COALESCE(name = 'play', false)) AS fsk,
       |    list(struct_pack(k := event_key, p := pct) ORDER BY event_key) AS lst
       |  FROM v WHERE pct IS NOT NULL
       |  GROUP BY media_id, visitor_key, dt, us),
       |r1 AS (
       |  SELECT media_id, visitor_key, dt, us, duration,
       |    (f0).p AS p0, (f0).n AS n0, has_start,
       |    CASE WHEN has_start THEN
       |      list_reduce(list_transform(list_filter(lst, x -> x.k >= fsk), x -> x.p),
       |                  (a, p) -> CASE WHEN p > a + 0.01 THEN p ELSE a END)
       |    END AS a_fresh,
       |    list_reduce(list_transform(lst, x -> x.p),
       |                (a, p) -> CASE WHEN p > a + 0.01 THEN p ELSE a END) AS a_started
       |  FROM runs0),
       |r2 AS (
       |  SELECT *,
       |    COALESCE(SUM(CASE WHEN has_start THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY media_id, visitor_key, dt ORDER BY us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) >= 1 AS started_before
       |  FROM r1),
       |r3 AS (
       |  SELECT *, CASE WHEN started_before THEN a_started
       |                 WHEN has_start THEN a_fresh END AS anchor_out
       |  FROM r2),
       |r4 AS (
       |  SELECT *, lag(anchor_out) OVER win AS prev_anchor,
       |    (us - lag(us) OVER win) / 1000000.0 AS elapsed
       |  FROM r3 WINDOW win AS (PARTITION BY media_id, visitor_key, dt ORDER BY us)),
       |watch AS (
       |  SELECT media_id, visitor_key AS visitor_id, dt AS date,
       |    round_even(CASE WHEN max(duration) > 0
       |      THEN LEAST(SUM(CASE WHEN started_before AND duration IS NOT NULL
       |                     AND duration > 0 AND p0 > prev_anchor
       |                     AND NOT COALESCE(n0 IN ('pause', 'end'), false)
       |                THEN LEAST(elapsed, (p0 - prev_anchor) / 100.0 * duration)
       |                ELSE 0.0 END), max(duration))
       |      ELSE 0.0 END, 2) AS twt
       |  FROM r4 GROUP BY 1, 2, 3),
       |fip AS (
       |  SELECT media_id, visitor_key, dt, ip FROM (
       |    SELECT media_id, visitor_key, dt, ip, row_number() OVER (
       |      PARTITION BY media_id, visitor_key, dt ORDER BY us, event_key) AS rn
       |    FROM v WHERE ip IS NOT NULL AND ip <> '') WHERE rn = 1),
       |fcy AS (
       |  SELECT media_id, visitor_key, dt, country FROM (
       |    SELECT media_id, visitor_key, dt, country, row_number() OVER (
       |      PARTITION BY media_id, visitor_key, dt ORDER BY us, event_key) AS rn
       |    FROM v WHERE country IS NOT NULL AND country <> '') WHERE rn = 1),
       |grouped AS (
       |  SELECT media_id, visitor_key, dt,
       |    min(received_at) AS event_timestamp,
       |    COALESCE(max(pct), 0.0) AS percent_viewed,
       |    CAST(SUM(CASE WHEN name = 'play' THEN 1 ELSE 0 END) AS BIGINT) AS n_play,
       |    MAX(CASE WHEN COALESCE(pct, 0.0) > 0 THEN 1 ELSE 0 END) AS any_progress,
       |    MAX(duration) AS duration
       |  FROM v GROUP BY 1, 2, 3),
       |g2 AS (
       |  SELECT g.media_id, g.visitor_key AS visitor_id, g.dt AS date,
       |    g.event_timestamp, g.percent_viewed, fip.ip AS ip_address,
       |    fcy.country, g.duration,
       |    CASE WHEN g.n_play = 0 AND g.any_progress = 1 THEN 1 ELSE g.n_play END AS play_count
       |  FROM grouped g
       |  LEFT JOIN fip ON fip.media_id = g.media_id
       |    AND fip.visitor_key = g.visitor_key AND fip.dt = g.dt
       |  LEFT JOIN fcy ON fcy.media_id = g.media_id
       |    AND fcy.visitor_key = g.visitor_key AND fcy.dt = g.dt),
       |f1 AS (
       |  SELECT g2.*, CASE WHEN play_count = 0 THEN 0.0
       |    ELSE COALESCE(watch.twt, 0.0) END AS total_watch_time
       |  FROM g2 LEFT JOIN watch USING (media_id, visitor_id, date))
       |SELECT media_id, visitor_id, date, event_timestamp, percent_viewed,
       |  ip_address, country,
       |  CAST(play_count AS BIGINT) AS play_count,
       |  CASE WHEN play_count = 0 THEN 0.0
       |       WHEN duration IS NOT NULL AND duration > 0 AND total_watch_time > 0
       |       THEN round_even(total_watch_time / duration, 2) ELSE 0.0 END AS play_rate,
       |  total_watch_time,
       |  make_timestamp(1767225600000000) AS ingestion_timestamp
       |FROM f1 ORDER BY media_id, visitor_id, date""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("w1_dim_media", w1DimMedia, Some(w1Sql)),
    Q("w2_dim_visitor", w2DimVisitor, Some(w2Sql)),
    Q("w3_fact_engagement", w3Fact, Some(w3Sql)))
}
