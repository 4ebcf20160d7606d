package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}

/** Core relational operator surface (SURVEY.md §2.2–§2.5), generalized
  * from the reference's imperative Python to the driver's TPC-H-ish
  * corpus. Reference citations are to /root/reference/.
  *
  * Scale design: every query here is a declarative DataFrame plan —
  * filters/projections push into the parquet scan, small dimensions are
  * broadcast explicitly, aggregations get map-side partial aggregation
  * from Catalyst, and no operator collects to the driver. Money math is
  * done in exact integer cents (see [[graft.Q]] determinism contract),
  * which is also the fastest path at scale: integer sums stay in
  * whole-stage codegen and are associative without rounding drift.
  */
object Relational {

  /** Exact cent-scaling of a 2-decimal double column: `round(x*100)` as
    * long. round-half-up on positive values matches DuckDB
    * `CAST(round(x*100,0) AS BIGINT)` exactly.
    */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  private val centsSql = (x: String) => s"CAST(round($x*100,0) AS BIGINT)"

  // ---------------------------------------------------------------------
  // q1_agg — hash group-by + sums/avg/count (SURVEY A1/A3/A7/C7;
  // reference process_wistia_data_v2.py:369-389,467-481). TPC-H Q1 shape.
  private def q1Agg(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
    val pc = cents(col("l_extendedprice"))
    val qc = cents(col("l_quantity"))
    val dk = cents(col("l_discount")) // discount in whole percent points
    val tk = cents(col("l_tax"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sum(qc) / 100.0).as("sum_qty"),
        (sum(pc) / 100.0).as("sum_base_price"),
        (sum(pc * (lit(100L) - dk)) / 10000.0).as("sum_disc_price"),
        (sum(pc * (lit(100L) - dk) * (lit(100L) + tk)) / 1000000.0).as("sum_charge"),
        (sum(qc).cast("double") / (lit(100.0) * count(lit(1)))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q1Sql =
    s"""SELECT l_returnflag, l_linestatus,
       | SUM(${centsSql("l_quantity")})/100.0 AS sum_qty,
       | SUM(${centsSql("l_extendedprice")})/100.0 AS sum_base_price,
       | SUM(${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")}))/10000.0 AS sum_disc_price,
       | SUM(${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")})*(100+${centsSql("l_tax")}))/1000000.0 AS sum_charge,
       | CAST(SUM(${centsSql("l_quantity")}) AS DOUBLE)/(100.0*COUNT(*)) AS avg_qty,
       | COUNT(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // q2_filter_project — IN-list filter + projection/rename + constants
  // (SURVEY F1/P1; reference process_wistia_data_v2.py:263-266,297-310).
  private def q2FilterProject(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_orderstatus") === "O")
      .select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("customer_id"),
        col("o_orderpriority").as("priority"),
        cents(col("o_totalprice")).as("total_cents"))
      .orderBy("order_id")

  private val q2Sql =
    s"""SELECT o_orderkey AS order_id, o_custkey AS customer_id,
       | o_orderpriority AS priority, ${centsSql("o_totalprice")} AS total_cents
       |FROM orders
       |WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND o_orderstatus = 'O'
       |ORDER BY order_id""".stripMargin

  // ---------------------------------------------------------------------
  // q3_case_derive — derived CASE column from substring match
  // (SURVEY P3/C5; reference process_wistia_data_v2.py:274-278).
  private def q3CaseDerive(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .withColumn("bucket",
        when(col("p_type").contains("ECONOMY") || col("p_type").contains("PROMO"), "value")
          .when(col("p_type").contains("SMALL") || col("p_type").contains("MEDIUM"), "size")
          .otherwise("other"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_parts"), sum(cents(col("p_retailprice"))).as("retail_cents"))
      .orderBy("bucket")

  private val q3Sql =
    s"""SELECT CASE
       |  WHEN p_type LIKE '%ECONOMY%' OR p_type LIKE '%PROMO%' THEN 'value'
       |  WHEN p_type LIKE '%SMALL%' OR p_type LIKE '%MEDIUM%' THEN 'size'
       |  ELSE 'other' END AS bucket,
       | COUNT(*) AS n_parts,
       | CAST(SUM(${centsSql("p_retailprice")}) AS BIGINT) AS retail_cents
       |FROM part GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q4_join_broadcast — broadcast hash equi-join of fact to small dim
  // (SURVEY J1; reference process_wistia_data_v2.py:721-727,407).
  // `part` is the small side: explicit broadcast() keeps the plan
  // shuffle-free on the build side at any fact scale.
  private def q4JoinBroadcast(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d).select("p_partkey", "p_brand")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_items"),
        (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0)
          .as("revenue"))
      .orderBy("p_brand")
  }

  private val q4Sql =
    s"""SELECT p_brand, COUNT(*) AS n_items,
       | SUM(${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")}))/10000.0 AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------------
  // q5_semi_join — EXISTS / left-semi (SURVEY J2/F1;
  // reference process_wistia_data_v2.py:263-266).
  private def q5SemiJoin(s: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.orders(s, d)
      .filter(col("o_totalprice") > 100000.0).select("o_custkey")
    Tables.customer(s, d)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  private val q5Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // q6_anti_join — NOT EXISTS / left-anti, plus dim join for labels.
  private def q6AntiJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val n = Tables.nation(s, d)
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_no_order"))
      .orderBy("n_name")
  }

  private val q6Sql =
    """SELECT n_name, COUNT(*) AS n_no_order
      |FROM customer c JOIN nation ON c_nationkey = n_nationkey
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------
  // q7_outer_join — left outer join null accounting.
  private def q7OuterJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_custkey", "o_orderkey")
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("n_with_order"),
        countDistinct(col("c_custkey")).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  private val q7Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_rows, COUNT(o_orderkey) AS n_with_order,
      | COUNT(DISTINCT c_custkey) AS n_customers
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // q8_dedup_first — first-occurrence dedup via row_number window
  // (SURVEY A10; reference process_wistia_data_v2.py:314-344). File order
  // in the reference ≙ event_id here (deterministic, oracle-matchable).
  private def q8DedupFirst(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        col("event_id").as("first_event_id"),
        col("event_type").as("first_event_type"))
      .orderBy("user_id")
  }

  private val q8Sql =
    """SELECT user_id, event_id AS first_event_id, event_type AS first_event_type
      |FROM (SELECT user_id, event_id, event_type,
      |        row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q9_sessions — per-key time sort + lag gap analysis (SURVEY W1/W2;
  // reference process_wistia_data_v2.py:395,404-405). 30-minute session
  // break; all arithmetic in exact epoch-microseconds.
  private def q9Sessions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("pus", lag(col("us"), 1).over(w))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("pus").isNull || col("us") - col("pus") > 1800000000L, 1L)
          .otherwise(0L)).as("n_sessions"),
        sum(when(col("pus").isNotNull && col("us") - col("pus") <= 1800000000L,
          col("us") - col("pus")).otherwise(0L)).as("active_us"))
      .orderBy("user_id")
  }

  private val q9Sql =
    """WITH g AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pus
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_events,
      | CAST(SUM(CASE WHEN pus IS NULL OR us - pus > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      | CAST(SUM(CASE WHEN pus IS NOT NULL AND us - pus <= 1800000000 THEN us - pus ELSE 0 END) AS BIGINT) AS active_us
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q10_topk_per_group — ranked top-N per key (SURVEY W2/O1), via the
  // custom bounded TopKPairs aggregate (graftshim): partial-aggregable,
  // so each map task forwards at most k pairs per group instead of
  // shuffling and sorting EVERY row the way the row_number window plan
  // does — the difference between O(rows) and O(groups·k·tasks) shuffle
  // volume at 100 TB. Bit-equal to the window formulation
  // ([[q10WindowTwin]]; Q10TopKSpec proves it on real data). Measured
  // (ScaleProbe `q10_window` arm, last at commit 561c6b9; local[32],
  // warm, 1×→10×): aggregate 0.80→1.36 s, window 0.98→2.16 s.
  private def q10TopkPerGroup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(graft.functions.VectorFunctions.topK(
        col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("o_custkey"), col("t.payload").as("o_orderkey"),
        (col("i") + 1).cast("int").as("rnk"))
      .orderBy("o_custkey", "rnk")

  /** The classic window formulation of q10 — kept as the executable spec
    * the custom aggregate is differentially tested against.
    */
  private[graft] def q10WindowTwin(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("o_custkey", "o_orderkey", "rnk")
      .orderBy("o_custkey", "rnk")
  }

  private val q10Sql =
    """SELECT o_custkey, o_orderkey, rnk FROM (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // q11_hwm — global MAX high-water mark (SURVEY A8/T1;
  // reference process_wistia_data_v2.py:140-144).
  private def q11Hwm(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .agg(unix_micros(max(col("ts"))).as("hwm_us"), count(lit(1)).as("n_events"))

  private val q11Sql =
    """SELECT CAST(epoch_us(max(ts)) AS BIGINT) AS hwm_us, COUNT(*) AS n_events
      |FROM events WHERE ts IS NOT NULL""".stripMargin

  // ---------------------------------------------------------------------
  // q12_incremental — HWM-style predicate pushdown on the time axis
  // (SURVEY T1/T2; reference process_wistia_data.py:406-423).
  private def q12Incremental(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      .orderBy("event_type")

  private val q12Sql =
    s"""SELECT event_type, COUNT(*) AS n,
       | CAST(SUM(${centsSql("value")}) AS BIGINT) AS value_cents
       |FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q13_union — UNION ALL of homogeneous branches (SURVEY U1;
  // reference process_wistia_data_v2.py:709-711).
  private def q13Union(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val clicks = e.filter(col("event_type") === "click").select("event_type", "user_id")
    val views = e.filter(col("event_type") === "view").select("event_type", "user_id")
    clicks.unionByName(views)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  private val q13Sql =
    """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
      |FROM (SELECT event_type, user_id FROM events WHERE event_type = 'click'
      |      UNION ALL
      |      SELECT event_type, user_id FROM events WHERE event_type = 'view')
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q14_setops — INTERSECT / EXCEPT (distinct set semantics).
  private def q14SetOps(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val clickers = e.filter(col("event_type") === "click").select("user_id")
    val buyers = e.filter(col("event_type") === "purchase").select("user_id")
    val both = clickers.intersect(buyers).agg(count(lit(1)).as("n_both"))
    val onlyClick = clickers.except(buyers).agg(count(lit(1)).as("n_click_only"))
    both.crossJoin(onlyClick)
  }

  private val q14Sql =
    """SELECT
      | (SELECT COUNT(*) FROM (SELECT user_id FROM events WHERE event_type='click'
      |   INTERSECT SELECT user_id FROM events WHERE event_type='purchase')) AS n_both,
      | (SELECT COUNT(*) FROM (SELECT user_id FROM events WHERE event_type='click'
      |   EXCEPT SELECT user_id FROM events WHERE event_type='purchase')) AS n_click_only""".stripMargin

  // ---------------------------------------------------------------------
  // q15_scalars — scalar-function gauntlet (SURVEY C1-C13): date extract,
  // regex extract from JSON-ish string, cents rounding, case transforms.
  private def q15Scalars(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        to_date(col("ts")).as("d"),
        coalesce(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"), lit(0L)).as("k"),
        cents(col("value")).as("vc"),
        upper(col("event_type")).as("ut"))
      .groupBy("d")
      .agg(
        sum(col("k")).as("sum_k"),
        sum(col("vc")).as("value_cents"),
        count(lit(1)).as("n"),
        max(col("ut")).as("max_type"))
      .orderBy("d")

  private val q15Sql =
    s"""SELECT CAST(ts AS DATE) AS d,
       | CAST(SUM(COALESCE(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT), 0)) AS BIGINT) AS sum_k,
       | CAST(SUM(${centsSql("value")}) AS BIGINT) AS value_cents,
       | COUNT(*) AS n,
       | MAX(upper(event_type)) AS max_type
       |FROM events GROUP BY 1 ORDER BY d""".stripMargin

  // ---------------------------------------------------------------------
  // q16_rollup — hierarchical subtotals (beyond-reference surface).
  private def q16Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(cents(col("l_quantity"))).as("qty_cents"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private val q16Sql =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty_cents
       |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q17_tpch_q3 — multi-join + agg + ordered top-K (headline). Shuffle
  // profile at scale: customer⋈orders shuffles on custkey, result⋈lineitem
  // on orderkey; AQE handles skew; top-K is a tree-reduced TakeOrdered.
  private def q17TpchQ3(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private val q17Sql =
    s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
       | SUM(${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")}))/10000.0 AS revenue
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |  JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY o_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q18_tpch_q5 — 6-way join with region restriction (headline).
  private def q18TpchQ5(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA").select("r_regionkey")
    val n = Tables.nation(s, d).join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, d).join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_nationkey", "n_name")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0)
        .as("revenue"))
      .orderBy("n_name")
  }

  private val q18Sql =
    s"""SELECT n_name,
       | SUM(${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")}))/10000.0 AS revenue
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'ASIA'
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------
  // q19_distinct — exact distinct counts (shuffle-heavy; the approximate
  // variant lives in the library for the 100 TB path, but the oracle gate
  // requires exact).
  private def q19Distinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  private val q19Sql =
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
      | COUNT(DISTINCT l_suppkey) AS n_supps,
      | COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------------
  // q20_countif_fallback — conditional count with fallback (SURVEY A2;
  // reference process_wistia_data_v2.py:398-400): play_count = count of
  // 'play'-like events, but ≥1 if any engagement was observed.
  private def q20CountifFallback(s: SparkSession, d: String): DataFrame = {
    val nClick = sum(when(col("event_type") === "click", 1L).otherwise(0L))
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        nClick.as("n_click"),
        when(nClick === 0L && max(col("value")) > 0.0, 1L).otherwise(nClick)
          .cast("long").as("play_count"))
      .orderBy("user_id")
  }

  private val q20Sql =
    """SELECT user_id,
      | CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      | CAST(CASE WHEN SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) = 0
      |            AND MAX(value) > 0.0 THEN 1
      |      ELSE SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) END AS BIGINT) AS play_count
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q21_first_value — ordered first value per group (SURVEY A4/A5;
  // reference process_wistia_data_v2.py:484-513): first event's payload
  // in strict time order, deterministic tie-break on event_id.
  private def q21FirstValue(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")), col("event_id"))
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        col("event_type").as("first_type"),
        cents(col("value")).as("first_value_cents"))
      .orderBy("user_id")
  }

  private val q21Sql =
    s"""SELECT user_id, event_type AS first_type,
       | ${centsSql("value")} AS first_value_cents
       |FROM (SELECT user_id, event_type, value,
       |        row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
       |      FROM events)
       |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q22_watchtime — the sessionized watch-time state machine (SURVEY A6;
  // reference process_wistia_data_v2.py:402-469) re-expressed as a
  // codegen-friendly lag-window plan over (user, day): credit each
  // positive progress delta with min(elapsed, Δ·duration), skipping
  // seek-sized jumps. All arithmetic in exact integer micros/cents; the
  // faithful Wistia-schema variant (incl. the /100 quirk) lives in
  // graft.wistia.WatchTime with a mapGroups executable-spec cross-check.
  private def q22Watchtime(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "day").orderBy("us", "event_id")
    Tables.events(s, d)
      .select(
        col("user_id"), col("event_id"),
        to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("us"),
        cents(col("value")).as("vc"))
      .withColumn("dus", col("us") - lag(col("us"), 1).over(w))
      .withColumn("dvc", col("vc") - lag(col("vc"), 1).over(w))
      .groupBy("user_id", "day")
      .agg(
        sum(when(col("dvc") > 0L && col("dvc") <= 5000L,
          least(col("dus"), col("dvc") * 60000L)).otherwise(0L)).as("watch_us"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "day")
  }

  private val q22Sql =
    s"""WITH g AS (
       |  SELECT user_id, event_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS us,
       |    ${centsSql("value")} AS vc
       |  FROM events),
       |l AS (
       |  SELECT user_id, day,
       |    us - lag(us) OVER w AS dus,
       |    vc - lag(vc) OVER w AS dvc
       |  FROM g WINDOW w AS (PARTITION BY user_id, day ORDER BY us, event_id))
       |SELECT user_id, day,
       | CAST(SUM(CASE WHEN dvc > 0 AND dvc <= 5000 THEN LEAST(dus, dvc*60000) ELSE 0 END) AS BIGINT) AS watch_us,
       | COUNT(*) AS n_events
       |FROM l GROUP BY user_id, day ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------------------------
  // q25_approx_distinct — HLL++ distinct sketches: the 100 TB answer to
  // q19 (exact distinct shuffles every distinct value; the sketch is
  // constant-size per group and merges associatively). HLL estimates
  // differ across engines, so the raw estimate can't hash-match a DuckDB
  // oracle; instead the query emits the EXACT counts plus a
  // within-5%-of-exact verdict per sketch (rsd=0.02, so 5% is a
  // comfortable bound), and the oracle recomputes the exact counts with
  // literal TRUE verdicts — a drifting sketch now fails the gate.
  // Q25ApproxSpec additionally pins the numeric relative error.
  // The exact counts ride in their OWN multi-distinct aggregate joined
  // back on the 3-row group frame — NOT as countDistinct alongside the
  // sketches: mixing DISTINCT aggregates with the imperative HLL buffer
  // forces an Expand ×3 + OBJECT-hash plan (measured 13× slower, 6.8 s
  // vs 0.5 s at sf0.1, re-confirmed by the r19 driver bench at 6.0 s);
  // distinct-only Expand stays in codegen hash aggregates.
  private def q25ApproxDistinct(s: SparkSession, d: String): DataFrame = {
    // TWO scans: the sketch pass (codegen HashAggregate, no Expand) and
    // one exact multi-distinct pass (Expand ×2 over the two key columns —
    // pure codegen hash aggregates once no imperative HLL buffer rides
    // along), joined on the 3-row group frame. r19's single-aggregate
    // fusion put countDistinct NEXT TO the HLL buffers and forced the
    // Expand ×3 object-hash plan the header comment warns about
    // (measured 1.7 s → 6.0 s at sf0.1/32c — reverted here).
    // Par.spreadTable (guide §2.5): the single-split local scan made both
    // partial aggregations (HLL inserts, Expand + distinct hash) run in
    // ONE task; no-op at production split counts
    val li = Par.spreadTable(s, d, "lineitem", col("l_orderkey"))
    val apx = li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col("l_partkey"), 0.02).as("apx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("apx_orders"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    apx.join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("n"), col("n_parts"), col("n_orders"),
        (abs(col("apx_parts") - col("n_parts")) * 20L <= col("n_parts"))
          .as("apx_parts_ok"),
        (abs(col("apx_orders") - col("n_orders")) * 20L <= col("n_orders"))
          .as("apx_orders_ok"))
      .orderBy("l_returnflag")
  }

  private val q25Sql =
    """SELECT l_returnflag, COUNT(*) AS n,
      | COUNT(DISTINCT l_partkey) AS n_parts,
      | COUNT(DISTINCT l_orderkey) AS n_orders,
      | TRUE AS apx_parts_ok, TRUE AS apx_orders_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q26_tpch_q6 — the classic forecast-revenue scan: single table, three
  // selective predicates, one sum. The pure test of scan throughput +
  // predicate pushdown; at 100 TB this is the query where columnar IO and
  // codegen dominate. The discount bracket is exact-cents
  // (round(100·x) ∈ [5,7]), which as an expression can never reach
  // PushedFilters — so the plan ALSO carries the implied raw-double
  // superset bracket x ∈ [0.044, 0.076], which does push down and lets
  // parquet row-group stats skip; the exact predicate then trims the
  // boundary rows. PlanShapeSpec pins all three pushed filters.
  private def q26TpchQ6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_quantity") < 24)
      .filter(col("l_discount") >= 0.044 && col("l_discount") <= 0.076)
      .filter(cents(col("l_discount")).between(5L, 7L))
      .agg((sum(cents(col("l_extendedprice")) * cents(col("l_discount"))) / 10000.0)
        .as("revenue"))

  private val q26Sql =
    s"""SELECT SUM(${centsSql("l_extendedprice")} * ${centsSql("l_discount")})/10000.0 AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_quantity < 24
       |  AND ${centsSql("l_discount")} BETWEEN 5 AND 7""".stripMargin

  // ---------------------------------------------------------------------
  // q27_cube — full grouping-sets lattice over two dimensions (q16 is the
  // rollup; CUBE adds the cross-marginal). grouping_id disambiguates
  // which NULLs are subtotals vs data.
  private def q27Cube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(cents(col("l_quantity"))).as("qty_cents"),
        grouping_id().as("gid"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private val q27Sql =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty_cents,
       | CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
       |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q28_pivot — pivot order priorities into columns per status (explicit
  // pivot values keep the output schema static — the scalable form; a
  // dynamic pivot needs a driver-side distinct pass first).
  private def q28Pivot(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .select(col("o_orderstatus"),
        coalesce(col("1-URGENT"), lit(0L)).as("urgent"),
        coalesce(col("2-HIGH"), lit(0L)).as("high"),
        coalesce(col("3-MEDIUM"), lit(0L)).as("medium"),
        coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("notspec"),
        coalesce(col("5-LOW"), lit(0L)).as("low"))
      .orderBy("o_orderstatus")

  private val q28Sql =
    """SELECT o_orderstatus,
      | COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
      | COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS high,
      | COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
      | COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS notspec,
      | COUNT(*) FILTER (o_orderpriority = '5-LOW') AS low
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // q29_percentiles — exact interpolated quantiles (median/p90) of order
  // totals per status: Spark `percentile` and DuckDB `quantile_cont`
  // share the standard (n-1)·p linear-interpolation definition, and over
  // exact cent integers the interpolation arithmetic is deterministic.
  // At 100 TB exact percentiles sort per group; approx_percentile is the
  // sketch path (same shape as q19 vs q25).
  private def q29Percentiles(s: SparkSession, d: String): DataFrame =
    // r20: ONE percentile buffer queried at both ranks (array form) —
    // two scalar `percentile` calls each built their own per-group
    // value-count map over the same input (2× buffer memory, 2×
    // serialize/merge bytes per partial). getPercentiles evaluates each
    // rank from the same counts array as the scalar form — values
    // bit-identical (guide §5: smaller per-task state).
    Par.spreadTable(s, d, "orders", col("o_orderkey")) // §2.5, single-split scan
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        percentile(cents(col("o_totalprice")), array(lit(0.5), lit(0.9))).as("ps"))
      .select(col("o_orderstatus"), col("n"),
        element_at(col("ps"), 1).as("p50_cents"),
        element_at(col("ps"), 2).as("p90_cents"))
      .orderBy("o_orderstatus")

  private val q29Sql =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       | quantile_cont(${centsSql("o_totalprice")}, 0.5) AS p50_cents,
       | quantile_cont(${centsSql("o_totalprice")}, 0.9) AS p90_cents
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // q55_mad_outliers — robust per-group outlier accounting via
  // median/MAD (the 3-MAD rule — outlier-resistant where q30-style
  // mean/stddev z-scores are themselves dragged by the outliers being
  // hunted): per returnflag, med = median(price), MAD = median(|price −
  // med|), count rows with |price − med| > 3·MAD. ALL-INTEGER despite
  // interpolated medians: prices double to 2×cents (every midpoint of
  // two even ints is an int, so percentile(0.5) is integral-valued and
  // casts exactly), deviations double again before the second median —
  // the 3-MAD test becomes 2·dev > 3·mad4 with both sides exact int64,
  // identical in DuckDB's quantile_cont.
  //
  // Scale: two exact per-group medians = two per-group sorts (the q29
  // trade, grouped so each sorts its own partition's slice), one
  // broadcast join of the 3-row med frame back onto the fact, one
  // map-side-combined final count. The sketch path at 100 TB swaps
  // percentile → approx_percentile exactly as q29 → q32.
  private def q55MadOutliers(s: SparkSession, d: String): DataFrame = {
    val v2 = (cents(col("l_extendedprice")) * 2L).as("v2")
    // r19: the projected 2-column frame is read by all three passes (med,
    // MAD, final count) — checkpoint it once so the parquet scan + cents
    // conversion run once instead of three times (the multi-pass is
    // inherent to exact MAD; the rescans were not). At 100 TB the sketch
    // path (approx_percentile, q32's trade) replaces this whole query.
    // Par.spreadTable (§2.5): the checkpoint build and the percentile
    // partial buffers it feeds were single-task behind the one-split
    // local scan; no-op at production split counts
    val li = Par.spreadTable(s, d, "lineitem", col("l_orderkey"))
      .select(col("l_returnflag"), v2)
      .localCheckpoint()
    val med = li.groupBy("l_returnflag")
      .agg(percentile(col("v2"), lit(0.5)).cast("long").as("med2"))
    val dev = li.join(broadcast(med), "l_returnflag")
      .withColumn("dev", abs(col("v2") - col("med2")))
    val mad = dev.groupBy("l_returnflag")
      .agg(percentile(col("dev") * 2L, lit(0.5)).cast("long").as("mad4"))
    dev.join(broadcast(mad), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        max(col("med2")).as("med2"),
        max(col("mad4")).as("mad4"),
        sum(when(col("dev") * 2L > lit(3L) * col("mad4"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("l_returnflag")
  }

  private val q55Sql =
    s"""WITH li AS (SELECT l_returnflag, ${centsSql("l_extendedprice")} * 2 AS v2
       |  FROM lineitem),
       |med AS (SELECT l_returnflag,
       |    CAST(quantile_cont(v2, 0.5) AS BIGINT) AS med2
       |  FROM li GROUP BY 1),
       |dev AS (SELECT li.l_returnflag, v2, med2, abs(v2 - med2) AS dev
       |  FROM li JOIN med USING (l_returnflag)),
       |mad AS (SELECT l_returnflag,
       |    CAST(quantile_cont(dev * 2, 0.5) AS BIGINT) AS mad4
       |  FROM dev GROUP BY 1)
       |SELECT dev.l_returnflag, COUNT(*) AS n,
       |  MAX(med2) AS med2, MAX(mad4) AS mad4,
       |  CAST(SUM(CASE WHEN dev * 2 > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers
       |FROM dev JOIN mad USING (l_returnflag)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q56_percentiles_sortpath — q29's EXACT answer via the spill-safe
  // formulation: row_number over a per-group sort picks the two
  // bracketing order statistics for each target rank, and the standard
  // (n−1)·p interpolation recombines them. Interpolation form matters
  // to the BIT: lo + frac·(hi−lo) and lo·(1−frac) + frac·hi are
  // algebraically equal but up to 1 ulp apart on non-dyadic fractions,
  // and the sf0.001 differential caught exactly that (p90 off in the
  // last double bits vs the oracle). This therefore mirrors Spark's
  // `percentile` evaluation — lower·(1−d) + higher·d, the same
  // operand ORDER — so q56 agrees bitwise with q29 (and with DuckDB's
  // quantile_cont, which the shared oracle pins at both gate corpora)
  // given the same bracketing order statistics, structurally rather
  // than by corpus luck.
  //
  // Why it exists (ScaleProbe's `skew:q55` arm, last at commit 561c6b9):
  // Spark's `percentile`
  // is an imperative aggregate buffering a per-group value map — one
  // giant group degraded it 9.3 s → 243 s at 20M distinct values and
  // the buffer is one 10× step from OOM. This plan replaces the buffer
  // with a per-group EXTERNAL sort (80.8 s on the same adversarial
  // input, flat memory): at 100 TB, q32's sketch is the default and
  // THIS is the fallback when the answer must be exact — it degrades to
  // disk, never to OOM. The rank targets are row-level expressions (n
  // is constant per group via a broadcast count join), so the final agg
  // keeps map-side combine.
  private def q56PercentilesSortpath(s: SparkSession, d: String): DataFrame = {
    val t = Tables.orders(s, d)
      .select(col("o_orderstatus"), cents(col("o_totalprice")).as("v"))
    val n = t.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    val rn = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderstatus").orderBy("v"))
    val ranked = t.withColumn("rn", rn).join(broadcast(n), "o_orderstatus")
    def r(p: Double) = (col("n") - 1L).cast("double") * p
    def sel(p: Double, tag: String) = Seq(
      max(when(col("rn") === floor(r(p)).cast("long") + 1L, col("v")))
        .as(s"lo_$tag"),
      max(when(col("rn") === ceil(r(p)).cast("long") + 1L, col("v")))
        .as(s"hi_$tag"))
    def interp(tag: String, p: Double) = {
      val rr = (col("n") - 1L).cast("double") * p
      val frac = rr - floor(rr)
      val lo = col(s"lo_$tag").cast("double")
      val hi = coalesce(col(s"hi_$tag"), col(s"lo_$tag")).cast("double")
      lo * (lit(1.0) - frac) + hi * frac
    }
    ranked.groupBy("o_orderstatus")
      .agg(max(col("n")).as("n"), sel(0.5, "50") ++ sel(0.9, "90"): _*)
      .select(col("o_orderstatus"), col("n"),
        interp("50", 0.5).as("p50_cents"), interp("90", 0.9).as("p90_cents"))
      .orderBy("o_orderstatus")
  }

  // ---------------------------------------------------------------------
  // q32_approx_percentiles — the sketch path for q29 (same pairing as
  // q19/q25): `approx_percentile` is Spark's Greenwald-Khanna quantile
  // summary — constant-size per group, mergeable, no per-group sort. The
  // sketch value is engine-specific, so the gate emits the EXACT
  // interpolated percentiles plus a within-5%-of-exact verdict per
  // sketch (accuracy 1000 → rank error ≤ 0.1%, far inside the bound);
  // the oracle recomputes the exact side with literal TRUE verdicts — a
  // drifting sketch fails the hash match.
  private def q32ApproxPercentiles(s: SparkSession, d: String): DataFrame = {
    // r20: ONE exact buffer and ONE GK summary, each queried at both
    // ranks (array form) — the four scalar aggregates built four
    // independent per-group buffers over the same rows (the exact map
    // twice, the GK summary twice: 2× insert/compress work, 2× partial
    // serialize/merge). Both aggregates evaluate multiple ranks from
    // the single structure, so every output value is bit-identical to
    // the scalar form's (guide §5; this was the slowest query in the
    // r19 suite at 32c — 6.7 s — and anti-scaled 0.22× vs 8c).
    val c = cents(col("o_totalprice"))
    // Par.spreadTable (§2.5): the exact-percentile value maps and GK
    // summaries were all BUILT inside the one-task local scan — the very
    // shape that anti-scaled 0.22× at 32c in the r19 driver run; no-op
    // at production split counts
    Par.spreadTable(s, d, "orders", col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        percentile(c, array(lit(0.5), lit(0.9))).as("ps"),
        approx_percentile(c, array(lit(0.5), lit(0.9)), lit(1000)).as("apxs"))
      .select(col("o_orderstatus"), col("n"),
        element_at(col("ps"), 1).as("p50_cents"),
        element_at(col("ps"), 2).as("p90_cents"),
        element_at(col("apxs"), 1).as("apx50"),
        element_at(col("apxs"), 2).as("apx90"))
      .select(col("o_orderstatus"), col("n"), col("p50_cents"), col("p90_cents"),
        (abs(col("apx50") - col("p50_cents")) * 20.0 <= col("p50_cents")).as("apx50_ok"),
        (abs(col("apx90") - col("p90_cents")) * 20.0 <= col("p90_cents")).as("apx90_ok"))
      .orderBy("o_orderstatus")
  }

  private val q32Sql =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       | quantile_cont(${centsSql("o_totalprice")}, 0.5) AS p50_cents,
       | quantile_cont(${centsSql("o_totalprice")}, 0.9) AS p90_cents,
       | TRUE AS apx50_ok, TRUE AS apx90_ok
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // q30_unpivot — melt q28's wide shape back to long: per-status priority
  // counts as (status, priority, n) rows via Dataset.unpivot (pivot's
  // inverse; map-side only, no shuffle beyond the source agg).
  private def q30Unpivot(s: SparkSession, d: String): DataFrame =
    q28Pivot(s, d)
      .unpivot(
        Array(col("o_orderstatus")),
        Array(col("urgent"), col("high"), col("medium"), col("notspec"), col("low")),
        "priority", "n")
      .orderBy("o_orderstatus", "priority")

  private val q30Sql =
    s"""WITH p AS ($q28Sql)
       |SELECT o_orderstatus, u.priority, u.n
       |FROM p, LATERAL (VALUES
       |  ('urgent', urgent), ('high', high), ('medium', medium),
       |  ('notspec', notspec), ('low', low)) u(priority, n)
       |ORDER BY o_orderstatus, priority""".stripMargin

  // ---------------------------------------------------------------------
  // q31_sql_surface — the engine's SQL front door: temp views + a
  // correlated scalar subquery through spark.sql (Catalyst decorrelates
  // it to a join+aggregate; .explain shows no per-row subquery). Every
  // other query uses the DataFrame API; this one proves the same plans
  // are reachable from SQL text.
  private def q31SqlSurface(s: SparkSession, d: String): DataFrame =
    sqlOverViews(s, d)(
      """SELECT c_mktsegment, COUNT(*) AS n_heavy
        |FROM customer_v c
        |WHERE (SELECT COUNT(*) FROM orders_v o
        |       WHERE o.o_custkey = c.c_custkey) >= 15
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  private val q31Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_heavy
      |FROM customer c
      |WHERE (SELECT COUNT(*) FROM orders o
      |       WHERE o.o_custkey = c.c_custkey) >= 15
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // q33_sql_decorrelate — the wider SQL front door: EXISTS and NOT IN
  // correlated subqueries (Catalyst decorrelates both to joins — EXISTS
  // → left-semi, NOT IN → null-aware left-anti; the plan has NO per-row
  // subquery execution) plus a RANGE-frame running window (30-day
  // trailing spend per customer, ordered by an integer day number so the
  // frame arithmetic is engine-portable). Exact cent sums keep the
  // output hash-deterministic. Same plans as the DataFrame API, reached
  // from SQL text — the q31 contract extended to the subquery shapes a
  // BI tool actually emits.
  private def q33SqlDecorrelate(s: SparkSession, d: String): DataFrame =
    sqlOverViews(s, d)(
      """SELECT o.o_custkey, o.o_orderkey,
        |  SUM(CAST(round(o.o_totalprice*100,0) AS BIGINT)) OVER (
        |    PARTITION BY o.o_custkey
        |    ORDER BY datediff(o.o_orderdate, DATE'1990-01-01')
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS cents_30d
        |FROM orders_v o
        |WHERE EXISTS (SELECT 1 FROM orders_v u
        |        WHERE u.o_custkey = o.o_custkey
        |          AND u.o_orderpriority = '1-URGENT')
        |  AND o.o_custkey NOT IN (SELECT c.c_custkey FROM customer_v c
        |        WHERE c.c_acctbal < 0)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)

  // DuckDB promotes SUM(BIGINT) to HUGEINT (int128); Spark emits int64.
  // The driver hashes the typed values, so the oracle casts the window
  // sum back to BIGINT (values are identical — overflow impossible at
  // any SF: 30 days of cents per customer is far below 2^63).
  private val q33Sql =
    """SELECT o.o_custkey, o.o_orderkey,
      |  CAST(SUM(CAST(round(o.o_totalprice*100,0) AS BIGINT)) OVER (
      |    PARTITION BY o.o_custkey
      |    ORDER BY date_diff('day', DATE '1990-01-01', o.o_orderdate)
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_30d
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM orders u
      |        WHERE u.o_custkey = o.o_custkey
      |          AND u.o_orderpriority = '1-URGENT')
      |  AND o.o_custkey NOT IN (SELECT c.c_custkey FROM customer c
      |        WHERE c.c_acctbal < 0)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q34/q35/q36 — the TPC-H decorrelation gauntlet (Q4/Q21/Q22 shapes,
  // adapted to this corpus's columns: shipdate-vs-orderdate lateness for
  // the missing commit/receipt dates, "no large orders" for Q22's
  // no-orders predicate since every customer here has orders). All three
  // run through spark.sql — the correlated-subquery shapes BI tools and
  // hand-written reports actually emit, each decorrelated by Catalyst
  // to joins (no per-row subquery execution):
  //  - q34: EXISTS with correlated date arithmetic → left-semi.
  //  - q35: EXISTS + NOT EXISTS, both correlated on the same inner
  //    table with an outer-column comparison → left-semi + null-aware
  //    left-anti over lineitem self-joins (the classic Q21 plan).
  //  - q36: uncorrelated scalar aggregate (positive-balance average as
  //    exact cents×count cross-multiplication — no float average) +
  //    correlated NOT EXISTS with an inner filter.
  /** Guards the session-global temp-view names below: Verify's
    * GRAFT_VERIFY_PAR thread pool runs query builders concurrently, and
    * every SQL-surface builder registers the same `*_v` names. Today
    * each registration carries identical content for a given sfDir, but
    * registration + `s.sql` resolution under one lock makes that a
    * non-assumption: Spark analyzes the plan eagerly inside `s.sql`
    * (view names resolve to relations before the lock releases), so a
    * later re-registration can never swap a different frame under an
    * already-built plan.
    */
  private val viewLock = new Object

  /** Register the `*_v` views and analyze one SQL text atomically —
    * the only path the SQL-surface builders use (see [[viewLock]]).
    */
  private def sqlOverViews(s: SparkSession, d: String)(sqlText: String): DataFrame =
    viewLock.synchronized {
      // memoized per (session, dir): re-registering identical views per
      // query re-lists and re-infers 7 parquet schemas — a measured
      // ~0.25 s fixed cost per SQL-surface query (r12 bench: q31
      // 0.38→0.64 s under the always-register lock). Temp views are
      // session-scoped, and nothing else in this codebase touches the
      // `*_v` names, so same (session, dir) ⇒ the views already hold
      // exactly these frames.
      // tracks the dir the views CURRENTLY hold per session (not a set
      // of ever-registered dirs — alternating dirs must re-register)
      if (!registeredViews.get(s).contains(d)) {
        viewsFor(s, d)
        registeredViews(s) = d
      }
      s.sql(sqlText)
    }

  private val registeredViews =
    scala.collection.mutable.Map.empty[SparkSession, String]

  private def viewsFor(s: SparkSession, d: String): Unit = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    Tables.customer(s, d).createOrReplaceTempView("customer_v")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
    Tables.nation(s, d).createOrReplaceTempView("nation_v")
    Tables.table(s, d, "part").createOrReplaceTempView("part_v")
    Tables.region(s, d).createOrReplaceTempView("region_v")
  }

  /** Derived part-supplier relation for the partsupp-shaped TPC-H
    * queries (Q2/Q9/Q11/Q16): this corpus has no partsupp table, so the
    * (part, supplier) grain is recovered from lineitem — supplycost as
    * the MIN observed unit price in exact cents (integer division:
    * both engines floor positive values identically), qty as the summed
    * quantity. One map-side-combined groupBy; the result is ~|distinct
    * (partkey, suppkey)| rows, far smaller than lineitem at any scale.
    * `div` is the dialect's integer-division operator: `DIV` in Spark
    * SQL, `//` in DuckDB.
    */
  private def psCte(t: String, div: String): String =
    s"""ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       |    MIN(${centsSql("l_extendedprice")} $div CAST(l_quantity AS BIGINT)) AS cost_c,
       |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
       |  FROM $t GROUP BY l_partkey, l_suppkey)""".stripMargin

  private def q34TpchQ4(s: SparkSession, d: String): DataFrame = {
    sqlOverViews(s, d)(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders_v
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem_v WHERE l_orderkey = o_orderkey
        |              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  private val q34Sql =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
      |              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // r20 (§2.4 remove shuffles outright): the EXISTS/NOT-EXISTS pair is
  // evaluated as per-order supplier-count AGGREGATES instead of a
  // left-semi + null-aware anti join — the textbook Q21 decorrelated
  // plan shuffles lineitem three times (l1 by orderkey, l2 semi, l3
  // anti); this form shuffles it ONCE (the orders join), and the two
  // stacked aggregates reuse that orderkey partitioning (groupBy keys
  // are supersets/subsets of the join key, EnsureRequirements adds no
  // Exchange). Equivalence, row for row: an l1 row (late, order 'F')
  // qualifies iff
  //   EXISTS other-supplier row        ⟺ #distinct suppliers ≥ 2
  //   NOT EXISTS other-supplier LATE   ⟺ the order's late-supplier set
  //                                      is exactly {l1.l_suppkey}
  // so per order: qualifying rows exist only when exactly ONE supplier
  // has late rows AND the order has ≥2 suppliers, and then every late
  // row of that supplier qualifies (numwait += its late-row count).
  // max(CASE WHEN late…) picks that single supplier deterministically
  // (the filter nlate = 1 guarantees uniqueness). The oracle keeps the
  // textbook EXISTS/NOT-EXISTS shape and pins equality.
  private def q35TpchQ21(s: SparkSession, d: String): DataFrame = {
    sqlOverViews(s, d)(
      """WITH lw AS (
        |  SELECT l1.l_orderkey, l1.l_suppkey,
        |    CASE WHEN l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |         THEN 1L ELSE 0L END AS late
        |  FROM lineitem_v l1 JOIN orders_v ON o_orderkey = l1.l_orderkey
        |  WHERE o_orderstatus = 'F'),
        |g AS (
        |  SELECT l_orderkey, l_suppkey, SUM(late) AS n_late
        |  FROM lw GROUP BY l_orderkey, l_suppkey),
        |o AS (
        |  SELECT l_orderkey,
        |    COUNT(*) AS nsupp,
        |    COUNT(CASE WHEN n_late > 0 THEN 1 END) AS nlate,
        |    MAX(CASE WHEN n_late > 0 THEN l_suppkey END) AS late_sk,
        |    MAX(CASE WHEN n_late > 0 THEN n_late END) AS late_cnt
        |  FROM g GROUP BY l_orderkey)
        |SELECT s_name, SUM(late_cnt) AS numwait
        |FROM o JOIN supplier_v ON s_suppkey = late_sk
        |  JOIN nation_v ON s_nationkey = n_nationkey
        |WHERE nlate = 1 AND nsupp >= 2
        |  AND n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3')
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)
  }

  private val q35Sql =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |  JOIN orders ON o_orderkey = l1.l_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |              WHERE l3.l_orderkey = l1.l_orderkey
      |                AND l3.l_suppkey <> l1.l_suppkey
      |                AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |  AND n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3')
      |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin

  private def q36TpchQ22(s: SparkSession, d: String): DataFrame = {
    sqlOverViews(s, d)(
      s"""WITH ab AS (SELECT CAST(SUM(${centsSql("c_acctbal")}) AS BIGINT) AS s,
         |    COUNT(*) AS c FROM customer_v WHERE c_acctbal > 0)
         |SELECT c_mktsegment, COUNT(*) AS numcust,
         |  CAST(SUM(${centsSql("c_acctbal")}) AS BIGINT) AS totacctbal_cents
         |FROM customer_v CROSS JOIN ab
         |WHERE ${centsSql("c_acctbal")} * c > s
         |  AND NOT EXISTS (SELECT 1 FROM orders_v WHERE o_custkey = c_custkey
         |                  AND o_totalprice > 350000)
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  private val q36Sql =
    s"""WITH ab AS (SELECT CAST(SUM(${centsSql("c_acctbal")}) AS BIGINT) AS s,
       |    COUNT(*) AS c FROM customer WHERE c_acctbal > 0)
       |SELECT c_mktsegment, COUNT(*) AS numcust,
       |  CAST(SUM(${centsSql("c_acctbal")}) AS BIGINT) AS totacctbal_cents
       |FROM customer CROSS JOIN ab
       |WHERE ${centsSql("c_acctbal")} * c > s
       |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
       |                  AND o_totalprice > 350000)
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // q37/q38 — two more decorrelation classes the q33–q36 gauntlet does
  // not cover (both reached from SQL text, both decorrelated by Catalyst
  // to joins — no per-row subquery execution):
  //  - q37 (TPC-H Q17 shape): CORRELATED SCALAR AGGREGATE subqueries —
  //    the "less than 20% of average quantity for this part" predicate,
  //    in exact integer form (qty·5·cnt < sum ⟺ qty < 0.2·avg, no
  //    float division); Catalyst rewrites each scalar agg into an
  //    aggregate + left outer join on the correlation key.
  //  - q38 (TPC-H Q20 shape, adapted — no partsupp table in this
  //    corpus): EXISTS over a CORRELATED GROUP BY + HAVING — aggregate
  //    under a correlated predicate, decorrelated to an aggregate +
  //    left-semi join. The inner IN-list nests a second (uncorrelated)
  //    subquery, so the one query exercises nested decorrelation.
  private def q37TpchQ17(s: SparkSession, d: String): DataFrame = {
    sqlOverViews(s, d)(
      s"""SELECT CAST(SUM(${centsSql("l.l_extendedprice")}) AS BIGINT) AS cents_total,
         |  COUNT(*) AS n_rows
         |FROM lineitem_v l JOIN part_v p ON p.p_partkey = l.l_partkey
         |WHERE p.p_brand = 'Brand#4'
         |  AND CAST(l.l_quantity AS BIGINT) * 5 *
         |      (SELECT COUNT(*) FROM lineitem_v i WHERE i.l_partkey = l.l_partkey)
         |    < (SELECT CAST(SUM(CAST(i.l_quantity AS BIGINT)) AS BIGINT)
         |       FROM lineitem_v i WHERE i.l_partkey = l.l_partkey)""".stripMargin)
  }

  private val q37Sql =
    s"""SELECT CAST(SUM(${centsSql("l.l_extendedprice")}) AS BIGINT) AS cents_total,
       |  COUNT(*) AS n_rows
       |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |WHERE p.p_brand = 'Brand#4'
       |  AND CAST(l.l_quantity AS BIGINT) * 5 *
       |      (SELECT COUNT(*) FROM lineitem i WHERE i.l_partkey = l.l_partkey)
       |    < (SELECT CAST(SUM(CAST(i.l_quantity AS BIGINT)) AS BIGINT)
       |       FROM lineitem i WHERE i.l_partkey = l.l_partkey)""".stripMargin

  private def q38TpchQ20(s: SparkSession, d: String): DataFrame = {
    sqlOverViews(s, d)(
      """SELECT s.s_suppkey, s.s_name
        |FROM supplier_v s
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem_v li
        |  WHERE li.l_suppkey = s.s_suppkey
        |    AND li.l_partkey IN (SELECT p_partkey FROM part_v WHERE p_name LIKE 'red%')
        |  GROUP BY li.l_partkey
        |  HAVING SUM(CAST(li.l_quantity AS BIGINT)) > 100)
        |ORDER BY s.s_suppkey""".stripMargin)
  }

  private val q38Sql =
    """SELECT s.s_suppkey, s.s_name
      |FROM supplier s
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem li
      |  WHERE li.l_suppkey = s.s_suppkey
      |    AND li.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |  GROUP BY li.l_partkey
      |  HAVING SUM(CAST(li.l_quantity AS BIGINT)) > 100)
      |ORDER BY s.s_suppkey""".stripMargin

  // q39 — explicit GROUPING SETS with grouping() flags: the one grouping
  // construct q16 (ROLLUP) and q27 (CUBE) don't cover — an arbitrary,
  // non-hierarchical set list, plus the grouping-indicator columns BI
  // layers use to tell subtotal rows from data rows. One expand+agg plan
  // (Spark's Expand operator), same as rollup/cube — no extra shuffles.
  private def q39GroupingSets(s: SparkSession, d: String): DataFrame = {
    sqlOverViews(s, d)(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        |  COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem_v
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  }

  private val q39Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
      |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
      |  COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q40/q41/q42 — three classic TPC-H plan shapes not yet in the gauntlet
  // (DataFrame-API, not SQL — the declarative twins of Q18/Q13/Q19):
  //  - q40 (Q18, large-volume customers): groupBy+HAVING on the fact
  //    table feeding a join back to its dimensions. The aggregated+
  //    filtered `big` side shrinks by orders of magnitude, so AQE picks
  //    a broadcast join at runtime when it fits — no manual hint, the
  //    filtered size is data-dependent.
  //  - q41 (Q13, customer distribution): LEFT OUTER join with a
  //    pushed-down predicate on the RIGHT side (pre-join filter, not a
  //    post-join WHERE — the outer-join trap BI tools hit), then a
  //    two-level aggregation producing a histogram of counts.
  //  - q42 (Q19, disjunctive brackets): OR of three (brand, size,
  //    quantity) brackets across a join. The per-table halves of the
  //    disjunction reach each parquet scan as pushed filters (brand/size
  //    prune `part`, quantity prunes `lineitem` row groups); the exact
  //    cross-table bracket pairing evaluates on the joined row inside
  //    whole-stage codegen. Adapted to this corpus: no
  //    shipmode/container columns, brackets use p_size + l_quantity.
  private def q40TpchQ18(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 300L)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), cents(col("o_totalprice")).as("total_cents"),
        col("sum_qty"))
      .orderBy(col("total_cents").desc, col("o_orderkey"))
  }

  private val q40Sql =
    s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       |  ${centsSql("o_totalprice")} AS total_cents, sum_qty
       |FROM orders
       |JOIN (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
       |        AS sum_qty FROM lineitem GROUP BY l_orderkey
       |      HAVING SUM(CAST(l_quantity AS BIGINT)) > 300) big
       |  ON o_orderkey = big.l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY total_cents DESC, o_orderkey""".stripMargin

  private def q41TpchQ13(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "1-URGENT")
    val perCust = Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val q41Sql =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  private def q42TpchQ19(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    val q = col("l_quantity")
    val bracket =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
        q.between(1, 15)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(5, 20) &&
          q.between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(15, 40) &&
          q.between(20, 50))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .agg(
        (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          / 10000.0).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  private val q42Sql =
    s"""SELECT SUM(${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")}))/10000.0
       |    AS revenue,
       |  COUNT(*) AS n_rows
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 1 AND 15)
       |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
       |       AND l_quantity BETWEEN 10 AND 30)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 15 AND 40
       |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin

  // ---------------------------------------------------------------------
  // q43/q44/q45 — the remaining headline TPC-H reporting shapes (Q10/
  // Q14/Q15), completing the 15-shape coverage:
  //  - q43 (Q10, returned items): 4-table join (broadcast nation),
  //    quarter-windowed, revenue-ranked top-20. Revenue is the exact
  //    cents sum divided once (q26's convention) so the DESC sort is
  //    deterministic; ties break on c_custkey.
  //  - q44 (Q14, promo revenue share): two conditional exact-cents sums
  //    in ONE scan pass (no self-join), ratio = two IEEE ops on exact
  //    ints. The month filter prunes lineitem row groups by l_shipdate.
  //  - q45 (Q15, top supplier): uncorrelated scalar MAX subquery over a
  //    grouped revenue view — Catalyst decorrelates to an aggregate +
  //    broadcast cross join; run through spark.sql since the scalar-
  //    subquery SQL text is the shape BI tools emit.
  private def q43TpchQ10(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .withColumn("acctbal_cents", cents(col("c_acctbal")))
      .groupBy(col("c_custkey"), col("c_name"), col("acctbal_cents"), col("n_name"))
      .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
        / 10000.0).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  private val q43Sql =
    s"""SELECT c_custkey, c_name, ${centsSql("c_acctbal")} AS acctbal_cents, n_name,
       |  SUM(${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")}))/10000.0 AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1997-01-01'
       |  AND o_orderdate < TIMESTAMP '1997-04-01'
       |GROUP BY c_custkey, c_name, acctbal_cents, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  private def q44TpchQ14(s: SparkSession, d: String): DataFrame = {
    val rev = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-03-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0L))).as("promo_c"),
        sum(rev).as("total_c"))
      .select(
        (col("promo_c") * 100.0 / col("total_c")).as("promo_pct"),
        col("promo_c"), col("total_c"))
  }

  private val q44Sql =
    s"""WITH f AS (SELECT
       |    ${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")}) AS rev,
       |    p_type
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
       |    AND l_shipdate < TIMESTAMP '1997-04-01')
       |SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT)
       |    * 100.0 / CAST(SUM(rev) AS BIGINT) AS promo_pct,
       |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT) AS promo_c,
       |  CAST(SUM(rev) AS BIGINT) AS total_c
       |FROM f""".stripMargin

  private def q45TpchQ15(s: SparkSession, d: String): DataFrame = {
    sqlOverViews(s, d)(
      s"""WITH rev AS (SELECT l_suppkey,
         |    CAST(SUM(${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")})) AS BIGINT)
         |      AS total_c
         |  FROM lineitem_v
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_c
         |FROM supplier_v JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_c = (SELECT MAX(total_c) FROM rev)
         |ORDER BY s_suppkey""".stripMargin)
  }

  private val q45Sql =
    s"""WITH rev AS (SELECT l_suppkey,
       |    CAST(SUM(${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")})) AS BIGINT)
       |      AS total_c
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
       |    AND l_shipdate < TIMESTAMP '1997-04-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_c
       |FROM supplier JOIN rev ON s_suppkey = l_suppkey
       |WHERE total_c = (SELECT MAX(total_c) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------------
  // q46_window_gauntlet — the ranking-window family in one pass: rank,
  // dense_rank, ntile(4), percent_rank, cume_dist over orders ranked by
  // exact-cents price within status partitions. Covers the window
  // functions the rest of the surface doesn't (row_number: q8/q10;
  // lag/lead: q9/W2; first_value: q21; RANGE frames: q33/ev7).
  // percent_rank/cume_dist are ratios of exact window counts — single
  // IEEE divisions, deterministic; the orderkey tie-break removes rank
  // ties entirely. One shuffle (the status partition), all five
  // functions evaluated in a single Window physical operator.
  private def q46WindowGauntlet(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("total_cents").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00")))
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("total_cents"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("prank", percent_rank().over(w))
      .withColumn("cdist", cume_dist().over(w))
      .orderBy("o_orderstatus", "rnk")
  }

  private val q46Sql =
    s"""SELECT o_orderkey, o_orderstatus,
       |  ${centsSql("o_totalprice")} AS total_cents,
       |  CAST(rank() OVER w AS BIGINT) AS rnk,
       |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       |  percent_rank() OVER w AS prank,
       |  cume_dist() OVER w AS cdist
       |FROM orders
       |WHERE o_orderdate >= TIMESTAMP '2001-01-01'
       |WINDOW w AS (PARTITION BY o_orderstatus
       |             ORDER BY ${centsSql("o_totalprice")} DESC, o_orderkey)
       |ORDER BY o_orderstatus, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // q47–q53 — the seven TPC-H shapes not yet covered (Q2/Q7/Q8/Q9/Q11/
  // Q12/Q16), completing all 22. Adapted to this corpus like q34–q45:
  // partsupp is derived from lineitem (psCte), Q12's ship modes become
  // shipdate−orderdate delay buckets (no l_shipmode/commitdate here),
  // Q16's "complaint" suppliers become negative-balance suppliers. All
  // money math in exact integer cents; every ratio is a single IEEE
  // division of two exact ints; orderings carry full tie-breaks.
  //
  // Scale notes per query:
  //  - q47 (Q2, min-cost supplier): correlated scalar MIN over the
  //    derived ps + 3 dimension joins — Catalyst decorrelates to an
  //    aggregate + join on the correlation key (p_partkey); region/
  //    nation broadcast. ps is (pk,sk)-grained: tiny next to lineitem.
  //  - q48 (Q7, volume shipping): nation filters applied to supplier/
  //    customer BEFORE the fact joins (2 of 25 nations → both sides
  //    pruned ~12× before any shuffle); the filtered supplier side is
  //    broadcast, the customer side stays a shuffle join (customers
  //    scale with the corpus; suppliers are 15× fewer in TPC-H).
  //  - q49 (Q8, market share): share = two conditional exact-cents sums
  //    in one aggregation pass, one IEEE division at the end.
  //  - q50 (Q9, profit): 5-way join on the derived ps; profit in exact
  //    10⁻⁴-cent units summed as BIGINT, divided once for display.
  //  - q51 (Q11, important stock): HAVING-vs-global-total expressed as
  //    exact integer cross-multiplication (q36's convention, no float
  //    fraction); the global total is a 1-row broadcast cross join.
  //  - q52 (Q12, priority-by-delay): one fact join, CASE bucket, two
  //    count-if sums — map-side combined.
  //  - q53 (Q16, supplier counts): distinct (pk,sk) collapse FIRST
  //    (shrinks lineitem to the ps grain before any join), NOT-IN
  //    excluded suppliers as a broadcast left-anti, count-distinct at
  //    the (brand,type,size) grain.
  private def q47TpchQ2(s: SparkSession, d: String): DataFrame = {
    // both ps references (outer row set AND the correlated min-cost
    // subquery) are keyed on the partkeys of the size/type-filtered
    // parts — the subquery correlates on p_partkey of an already-
    // filtered outer part — so lineitem is pre-filtered to those
    // partkeys before BOTH derived-partsupp aggregations (q50's
    // rewrite; the filter is on the ps group key, so every surviving
    // group's MIN/SUM is untouched). The oracle keeps the textbook
    // shape.
    sqlOverViews(s, d)(
      s"""WITH fpart AS (SELECT p_partkey, p_name FROM part_v
         |  WHERE p_size BETWEEN 25 AND 35 AND p_type = 'SMALL'),
         |rli AS (SELECT * FROM lineitem_v
         |  WHERE l_partkey IN (SELECT p_partkey FROM fpart)),
         |${psCte("rli", "DIV")}
         |SELECT ${centsSql("s_acctbal")} AS acctbal_c, s_name, n_name,
         |  p_partkey, p_name, ps.cost_c AS supplycost_c
         |FROM ps
         |JOIN fpart ON p_partkey = ps.ps_partkey
         |JOIN supplier_v ON s_suppkey = ps.ps_suppkey
         |JOIN nation_v ON s_nationkey = n_nationkey
         |JOIN region_v ON n_regionkey = r_regionkey
         |WHERE r_name = 'EUROPE'
         |  AND ps.cost_c = (SELECT MIN(ps2.cost_c)
         |    FROM ps ps2
         |    JOIN supplier_v s2 ON s2.s_suppkey = ps2.ps_suppkey
         |    JOIN nation_v n2 ON s2.s_nationkey = n2.n_nationkey
         |    JOIN region_v r2 ON n2.n_regionkey = r2.r_regionkey
         |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
         |ORDER BY acctbal_c DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin)
  }

  private val q47Sql =
    s"""WITH ${psCte("lineitem", "//")}
       |SELECT ${centsSql("s_acctbal")} AS acctbal_c, s_name, n_name,
       |  p_partkey, p_name, ps.cost_c AS supplycost_c
       |FROM ps
       |JOIN part ON p_partkey = ps.ps_partkey
       |JOIN supplier ON s_suppkey = ps.ps_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE p_size BETWEEN 25 AND 35 AND p_type = 'SMALL' AND r_name = 'EUROPE'
       |  AND ps.cost_c = (SELECT MIN(ps2.cost_c)
       |    FROM ps ps2
       |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
       |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
       |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
       |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
       |ORDER BY acctbal_c DESC, n_name, s_name, p_partkey
       |LIMIT 100""".stripMargin

  private def q48TpchQ7(s: SparkSession, d: String): DataFrame = {
    val pair = Seq("NATION_3", "NATION_7")
    val n1 = broadcast(Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
    val sup = Tables.supplier(s, d).join(n1, col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = Tables.customer(s, d).join(n2, col("c_nationkey") === col("c_nk"))
      .select(col("c_custkey"), col("cust_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
        / 10000.0).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  private val q48Sql =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
       |  SUM(${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")}))/10000.0 AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE n1.n_name IN ('NATION_3','NATION_7')
       |  AND n2.n_name IN ('NATION_3','NATION_7')
       |  AND n1.n_name <> n2.n_name
       |  AND l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1998-01-01'
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  private def q49TpchQ8(s: SparkSession, d: String): DataFrame = {
    val rev = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
    val nCust = broadcast(Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk")))
    val nSupp = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_type") === "STANDARD").select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(nCust, col("c_nationkey") === col("c_nk"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(nSupp, col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_5", rev).otherwise(lit(0L))).as("nation_c"),
        sum(rev).as("total_c"))
      .select(col("o_year"),
        (col("nation_c").cast("double") / col("total_c")).as("mkt_share"),
        col("nation_c"), col("total_c"))
      .orderBy("o_year")
  }

  private val q49Sql =
    s"""WITH f AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |    ${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")}) AS rev,
       |    n1.n_name AS supp_nation
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |    JOIN region ON n2.n_regionkey = r_regionkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
       |    AND o_orderdate >= TIMESTAMP '1996-01-01'
       |    AND o_orderdate < TIMESTAMP '1998-01-01')
       |SELECT o_year,
       |  CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev ELSE 0 END) AS BIGINT)
       |    AS DOUBLE) / CAST(SUM(rev) AS BIGINT) AS mkt_share,
       |  CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev ELSE 0 END) AS BIGINT) AS nation_c,
       |  CAST(SUM(rev) AS BIGINT) AS total_c
       |FROM f GROUP BY o_year ORDER BY o_year""".stripMargin

  private def q50TpchQ9(s: SparkSession, d: String): DataFrame = {
    // the `%red%` part predicate is applied to lineitem BEFORE the ps
    // (derived partsupp) aggregation and the 5-way fact join, not after:
    // part is unique on p_partkey, so the inner part join was a pure
    // semi filter, and ps keyed on a red l_partkey sees exactly the same
    // lineitem rows either way (the filter is on the ps group key) —
    // cost_c/qty and the join result are bit-identical while the
    // aggregation and every downstream join now consume only the
    // matching fraction of lineitem (guide §3.2: reduce the big side
    // before deriving/joining). The oracle keeps the textbook shape.
    sqlOverViews(s, d)(
      s"""WITH rli AS (SELECT * FROM lineitem_v
         |  WHERE l_partkey IN (SELECT p_partkey FROM part_v
         |                      WHERE p_name LIKE '%red%')),
         |${psCte("rli", "DIV")},
         |f AS (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |    ${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")})
         |      - ps.cost_c * 100 * CAST(l_quantity AS BIGINT) AS amount
         |  FROM rli
         |  JOIN ps ON ps.ps_partkey = l_partkey AND ps.ps_suppkey = l_suppkey
         |  JOIN supplier_v ON s_suppkey = l_suppkey
         |  JOIN orders_v ON o_orderkey = l_orderkey
         |  JOIN nation_v ON s_nationkey = n_nationkey)
         |SELECT nation, o_year,
         |  CAST(SUM(amount) AS BIGINT) AS profit_c4,
         |  CAST(CAST(SUM(amount) AS BIGINT) AS DOUBLE) / 10000.0 AS profit
         |FROM f GROUP BY nation, o_year
         |ORDER BY nation, o_year DESC""".stripMargin)
  }

  private val q50Sql =
    s"""WITH ${psCte("lineitem", "//")},
       |f AS (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |    ${centsSql("l_extendedprice")}*(100-${centsSql("l_discount")})
       |      - ps.cost_c * 100 * CAST(l_quantity AS BIGINT) AS amount
       |  FROM lineitem
       |  JOIN ps ON ps.ps_partkey = l_partkey AND ps.ps_suppkey = l_suppkey
       |  JOIN part ON p_partkey = l_partkey
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE p_name LIKE '%red%')
       |SELECT nation, o_year,
       |  CAST(SUM(amount) AS BIGINT) AS profit_c4,
       |  CAST(CAST(SUM(amount) AS BIGINT) AS DOUBLE) / 10000.0 AS profit
       |FROM f GROUP BY nation, o_year
       |ORDER BY nation, o_year DESC""".stripMargin

  private def q51TpchQ11(s: SparkSession, d: String): DataFrame = {
    // the nation scope is applied to lineitem BEFORE the ps derivation
    // (q50's rewrite): the supplier⋈nation filter is keyed on ps's group
    // key (ps_suppkey), so restricting lineitem to the scoped suppliers'
    // rows leaves every surviving (partkey, suppkey) group's rows — and
    // its MIN/SUM — untouched while the derived-partsupp aggregation
    // consumes the scoped fraction of lineitem instead of all of it.
    // The supplier join survives only as the IN-list semi filter.
    sqlOverViews(s, d)(
      s"""WITH rli AS (SELECT * FROM lineitem_v
         |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier_v
         |    JOIN nation_v ON s_nationkey = n_nationkey
         |    WHERE n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4'))),
         |${psCte("rli", "DIV")},
         |scoped AS (SELECT ps_partkey, CAST(SUM(cost_c * qty) AS BIGINT) AS value_c
         |  FROM ps GROUP BY ps_partkey),
         |tot AS (SELECT CAST(SUM(value_c) AS BIGINT) AS t FROM scoped)
         |SELECT ps_partkey AS p_partkey, value_c
         |FROM scoped CROSS JOIN tot
         |WHERE value_c * 1000 > t
         |ORDER BY value_c DESC, p_partkey""".stripMargin)
  }

  private val q51Sql =
    s"""WITH ${psCte("lineitem", "//")},
       |scoped AS (SELECT ps_partkey, CAST(SUM(cost_c * qty) AS BIGINT) AS value_c
       |  FROM ps JOIN supplier ON s_suppkey = ps_suppkey
       |    JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4')
       |  GROUP BY ps_partkey),
       |tot AS (SELECT CAST(SUM(value_c) AS BIGINT) AS t FROM scoped)
       |SELECT ps_partkey AS p_partkey, value_c
       |FROM scoped CROSS JOIN tot
       |WHERE value_c * 1000 > t
       |ORDER BY value_c DESC, p_partkey""".stripMargin

  private def q52TpchQ12(s: SparkSession, d: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val delay = datediff(col("l_shipdate"), col("o_orderdate"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select("l_orderkey", "l_shipdate")
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("ship_bucket",
        when(delay <= 30, "FAST").when(delay <= 90, "NORMAL").otherwise("SLOW"))
      .groupBy("ship_bucket")
      .agg(
        sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("ship_bucket")
  }

  private val q52Sql =
    """WITH j AS (SELECT
      |    CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'FAST'
      |         WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'NORMAL'
      |         ELSE 'SLOW' END AS ship_bucket,
      |    o_orderpriority
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01')
      |SELECT ship_bucket,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
      |    AS BIGINT) AS low_line_count
      |FROM j GROUP BY ship_bucket ORDER BY ship_bucket""".stripMargin

  private def q53TpchQ16(s: SparkSession, d: String): DataFrame = {
    val excluded = Tables.supplier(s, d).filter(col("s_acctbal") < 0).select("s_suppkey")
    val pfil = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "MEDIUM" &&
        col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    // the part predicate prunes lineitem BEFORE the pair distinct (the
    // filter is on the distinct key, so the surviving pair set is
    // identical) — the distinct shuffle then carries only the matching
    // fraction of lineitem instead of all of it
    Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(pfil.select("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .distinct()
      .join(broadcast(pfil), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  private val q53Sql =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'MEDIUM'
      |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ---------------------------------------------------------------------
  // q54_incremental_agg — incremental materialized-view maintenance
  // (delta aggregation): a STORED aggregate built from the base slice
  // (l_orderkey % 5 ≠ 0, localCheckpointed — dd11/sim9/search3's
  // stored-table convention) is brought up to date by aggregating ONLY
  // the delta batch (l_orderkey % 5 = 0) and merging partials — the
  // production refresh pattern at 100 TB, where recomputing a corpus-
  // wide aggregate per ingest is the thing you must never do. All
  // maintained measures are self-maintainable partials (counts + exact
  // cent sums); derived ratios (avg) are computed AT READ from the
  // merged partials, never stored — the textbook IVM discipline. The
  // oracle is the FULL recompute over the whole table, so the gate
  // proves merged-incremental ≡ ground truth.
  //
  // Scale: per-refresh work is one map-side-combined aggregate over the
  // delta + a merge groupBy on two group-count-sized frames (≤ a few
  // rows per key-combination, regardless of corpus size).
  private def q54IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    def agg(df: DataFrame): DataFrame = df
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("l_quantity"))).as("sum_qty_c"),
        sum(cents(col("l_extendedprice"))).as("sum_base_c"))
    val li = Tables.lineitem(s, d)
    // the stored MV (built once from the base slice, not per refresh)
    val stored = agg(li.filter(col("l_orderkey") % 5 =!= 0)).localCheckpoint()
    // per-refresh work starts here
    val delta = agg(li.filter(col("l_orderkey") % 5 === 0))
    stored.unionByName(delta)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("n_rows").as("n_rows"),
        sum("sum_qty_c").as("sum_qty_c"),
        sum("sum_base_c").as("sum_base_c"))
      .withColumn("avg_qty_ppm", expr("sum_qty_c * 10000L div n_rows"))
      .select("l_returnflag", "l_linestatus", "n_rows",
        "sum_qty_c", "sum_base_c", "avg_qty_ppm")
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q54Sql =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       |  CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c,
       |  CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_base_c,
       |  CAST(SUM(${centsSql("l_quantity")}) * 10000
       |    // COUNT(*) AS BIGINT) AS avg_qty_ppm
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // q57_dq_audit — the data-quality EXPECTATION SUITE a warehouse runs
  // before promoting a load (the Great-Expectations/dbt-test layer, as
  // one declarative plan): per-table row-local invariants (nulls in key
  // columns, domain ranges, derived-column consistency), uniqueness of
  // natural keys, and cross-table referential integrity — one row per
  // expectation with the violation count, the CHECKED denominator (the
  // real per-table row counts, so the oracle hash pins live computation,
  // not a sea of zeros), and the pass verdict.
  //
  // Scale: all row-local checks of a table share ONE scan (conditional
  // sums + the count-minus-count-distinct uniqueness form in a single
  // agg — Catalyst plans the distinct via expand, still one pass);
  // referential checks are anti-join counts (AQE broadcasts the key side
  // when it fits). r19: the per-table 1-row aggs are NOT checkpointed —
  // the whole audit is ONE lazy plan whose independent table branches
  // AQE schedules concurrently (the old per-table localCheckpoints
  // serialized five full-scan jobs end to end; guide §2.6 "overlap
  // independent jobs"). The denominator crossJoins re-reference each
  // table's agg subtree, so the biggest table is scanned at most once
  // more than before — concurrently, not in series. The audit output is
  // O(#expectations) rows regardless of corpus size.
  private def q57DqAudit(s: SparkSession, d: String): DataFrame = {
    def zcount(c: Column) = sum(when(c, 1L).otherwise(0L))
    def reshape(agg1: DataFrame, tbl: String,
        checks: Seq[(String, String)]): DataFrame =
      agg1.select(explode(array(checks.map { case (name, vcol) =>
        struct(lit(tbl).as("tbl"), lit(name).as("chk"),
          col(vcol).cast("long").as("violations"),
          col("n").cast("long").as("checked"))
      }: _*)).as("r")).select("r.*")
    val liAgg = Tables.lineitem(s, d).agg(
      count(lit(1)).as("n"),
      zcount(col("l_orderkey").isNull).as("null_orderkey"),
      zcount(col("l_quantity") <= 0.0).as("nonpos_qty"),
      zcount(col("l_discount") < 0.0 || col("l_discount") > 1.0).as("disc_range"),
      (count(lit(1)) - count_distinct(
        struct(col("l_orderkey"), col("l_linenumber")))).as("dup_line"))
    val ordAgg = Tables.orders(s, d).agg(
      count(lit(1)).as("n"),
      zcount(col("o_totalprice") <= 0.0).as("nonpos_total"),
      (count(lit(1)) - count_distinct(col("o_orderkey"))).as("dup_orderkey"))
    val custAgg = Tables.customer(s, d).agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - count_distinct(col("c_custkey"))).as("dup_custkey"))
    val docAgg = Tables.documents(s, d).agg(
      count(lit(1)).as("n"),
      zcount(col("text").isNull || length(col("text")) === 0).as("empty_text"),
      zcount(coalesce(length(col("text")).cast("long"), lit(-1L)) =!=
        col("n_chars")).as("nchars_mismatch"))
    val embAgg = Tables.embeddings(s, d).agg(
      count(lit(1)).as("n"),
      // NULL embedding ⇒ violation: coalesce explicitly on BOTH engines
      // (Spark size(NULL) is -1-or-NULL depending on legacy conf; DuckDB
      // len(NULL) is NULL — unpinned, a null row would diverge)
      zcount(coalesce(size(col("embedding")), lit(-1)) =!= 64).as("bad_dim"))
    def orphan(child: DataFrame, childKey: String, parent: DataFrame,
        parentKey: String, denom: DataFrame, tbl: String, name: String) =
      child.join(parent, col(childKey) === col(parentKey), "left_anti")
        .agg(count(lit(1)).cast("long").as("violations"))
        .crossJoin(denom.select(col("n").cast("long").as("checked")))
        .select(lit(tbl).as("tbl"), lit(name).as("chk"),
          col("violations"), col("checked"))
    val rows = Seq(
      reshape(liAgg, "lineitem", Seq(
        "null_orderkey" -> "null_orderkey",
        "nonpositive_quantity" -> "nonpos_qty",
        "discount_range" -> "disc_range",
        "dup_linenumber" -> "dup_line")),
      orphan(Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey", liAgg, "lineitem", "orphan_orderkey"),
      reshape(ordAgg, "orders", Seq(
        "nonpositive_totalprice" -> "nonpos_total",
        "dup_orderkey" -> "dup_orderkey")),
      orphan(Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey", ordAgg, "orders", "orphan_custkey"),
      reshape(custAgg, "customer", Seq("dup_custkey" -> "dup_custkey")),
      reshape(docAgg, "documents", Seq(
        "empty_text" -> "empty_text",
        "nchars_mismatch" -> "nchars_mismatch")),
      reshape(embAgg, "embeddings", Seq("bad_dim" -> "bad_dim")))
    rows.reduce(_ unionByName _)
      .withColumn("pass", col("violations") === 0L)
      .orderBy("tbl", "chk")
  }

  private val q57Sql =
    """WITH lin AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
      |    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_qty,
      |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS disc_range,
      |    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS dup_line
      |  FROM lineitem),
      |ord AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_total,
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_orderkey
      |  FROM orders),
      |cust AS (SELECT COUNT(*) AS n,
      |    COUNT(*) - COUNT(DISTINCT c_custkey) AS dup_custkey FROM customer),
      |doc AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN text IS NULL OR strlen(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
      |    CAST(SUM(CASE WHEN COALESCE(CAST(strlen(text) AS BIGINT), -1) <> n_chars THEN 1 ELSE 0 END) AS BIGINT) AS nchars_mismatch
      |  FROM documents),
      |emb AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN COALESCE(len(embedding), -1) <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS bad_dim
      |  FROM embeddings),
      |oli AS (SELECT COUNT(*) AS v FROM lineitem l
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
      |oor AS (SELECT COUNT(*) AS v FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |u AS (
      |  SELECT 'lineitem' AS tbl, 'null_orderkey' AS chk, null_orderkey AS violations, n AS checked FROM lin
      |  UNION ALL SELECT 'lineitem', 'nonpositive_quantity', nonpos_qty, n FROM lin
      |  UNION ALL SELECT 'lineitem', 'discount_range', disc_range, n FROM lin
      |  UNION ALL SELECT 'lineitem', 'dup_linenumber', dup_line, n FROM lin
      |  UNION ALL SELECT 'lineitem', 'orphan_orderkey', oli.v, lin.n FROM oli, lin
      |  UNION ALL SELECT 'orders', 'nonpositive_totalprice', nonpos_total, n FROM ord
      |  UNION ALL SELECT 'orders', 'dup_orderkey', dup_orderkey, n FROM ord
      |  UNION ALL SELECT 'orders', 'orphan_custkey', oor.v, ord.n FROM oor, ord
      |  UNION ALL SELECT 'customer', 'dup_custkey', dup_custkey, n FROM cust
      |  UNION ALL SELECT 'documents', 'empty_text', empty_text, n FROM doc
      |  UNION ALL SELECT 'documents', 'nchars_mismatch', nchars_mismatch, n FROM doc
      |  UNION ALL SELECT 'embeddings', 'bad_dim', bad_dim, n FROM emb)
      |SELECT tbl, chk, CAST(violations AS BIGINT) AS violations,
      |  CAST(checked AS BIGINT) AS checked, violations = 0 AS pass
      |FROM u ORDER BY tbl, chk""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q57_dq_audit", q57DqAudit, Some(q57Sql)),
    Q("q54_incremental_agg", q54IncrementalAgg, Some(q54Sql)),
    Q("q47_tpch_q2", q47TpchQ2, Some(q47Sql)),
    Q("q48_tpch_q7", q48TpchQ7, Some(q48Sql)),
    Q("q49_tpch_q8", q49TpchQ8, Some(q49Sql)),
    Q("q50_tpch_q9", q50TpchQ9, Some(q50Sql)),
    Q("q51_tpch_q11", q51TpchQ11, Some(q51Sql)),
    Q("q52_tpch_q12", q52TpchQ12, Some(q52Sql)),
    Q("q53_tpch_q16", q53TpchQ16, Some(q53Sql)),
    Q("q46_window_gauntlet", q46WindowGauntlet, Some(q46Sql)),
    Q("q43_tpch_q10", q43TpchQ10, Some(q43Sql)),
    Q("q44_tpch_q14", q44TpchQ14, Some(q44Sql)),
    Q("q45_tpch_q15", q45TpchQ15, Some(q45Sql)),
    Q("q40_tpch_q18", q40TpchQ18, Some(q40Sql)),
    Q("q41_tpch_q13", q41TpchQ13, Some(q41Sql)),
    Q("q42_tpch_q19", q42TpchQ19, Some(q42Sql)),
    Q("q39_grouping_sets", q39GroupingSets, Some(q39Sql)),
    Q("q31_sql_surface", q31SqlSurface, Some(q31Sql)),
    Q("q33_sql_decorrelate", q33SqlDecorrelate, Some(q33Sql)),
    Q("q34_tpch_q4", q34TpchQ4, Some(q34Sql)),
    Q("q35_tpch_q21", q35TpchQ21, Some(q35Sql)),
    Q("q37_tpch_q17", q37TpchQ17, Some(q37Sql)),
    Q("q38_tpch_q20", q38TpchQ20, Some(q38Sql)),
    Q("q36_tpch_q22", q36TpchQ22, Some(q36Sql)),
    Q("q30_unpivot", q30Unpivot, Some(q30Sql)),
    Q("q55_mad_outliers", q55MadOutliers, Some(q55Sql)),
    Q("q29_percentiles", q29Percentiles, Some(q29Sql)),
    Q("q56_percentiles_sortpath", q56PercentilesSortpath, Some(q29Sql)),
    Q("q32_approx_percentiles", q32ApproxPercentiles, Some(q32Sql)),
    Q("q25_approx_distinct", q25ApproxDistinct, Some(q25Sql)),
    Q("q26_tpch_q6", q26TpchQ6, Some(q26Sql)),
    Q("q27_cube", q27Cube, Some(q27Sql)),
    Q("q28_pivot", q28Pivot, Some(q28Sql)),
    Q("q1_agg", q1Agg, Some(q1Sql)),
    Q("q2_filter_project", q2FilterProject, Some(q2Sql)),
    Q("q3_case_derive", q3CaseDerive, Some(q3Sql)),
    Q("q4_join_broadcast", q4JoinBroadcast, Some(q4Sql)),
    Q("q5_semi_join", q5SemiJoin, Some(q5Sql)),
    Q("q6_anti_join", q6AntiJoin, Some(q6Sql)),
    Q("q7_outer_join", q7OuterJoin, Some(q7Sql)),
    Q("q8_dedup_first", q8DedupFirst, Some(q8Sql)),
    Q("q9_sessions", q9Sessions, Some(q9Sql)),
    Q("q10_topk_per_group", q10TopkPerGroup, Some(q10Sql)),
    Q("q11_hwm", q11Hwm, Some(q11Sql)),
    Q("q12_incremental", q12Incremental, Some(q12Sql)),
    Q("q13_union", q13Union, Some(q13Sql)),
    Q("q14_setops", q14SetOps, Some(q14Sql)),
    Q("q15_scalars", q15Scalars, Some(q15Sql)),
    Q("q16_rollup", q16Rollup, Some(q16Sql)),
    Q("q17_tpch_q3", q17TpchQ3, Some(q17Sql)),
    Q("q18_tpch_q5", q18TpchQ5, Some(q18Sql)),
    Q("q19_distinct", q19Distinct, Some(q19Sql)),
    Q("q20_countif_fallback", q20CountifFallback, Some(q20Sql)),
    Q("q21_first_value", q21FirstValue, Some(q21Sql)),
    Q("q22_watchtime", q22Watchtime, Some(q22Sql)))
}
