package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}

/** As-of (backward-looking) join — an operator Spark lacks natively,
  * composed from existing ops per the preference order (no custom plan
  * node needed): union both sides, one shuffle on the key, and a running
  * ignore-nulls `last` over (time, side, seq) picks each left row's
  * latest right row at-or-before its timestamp.
  *
  * This is the scalable formulation: a naive range join is O(L·R) pairs
  * per key (Catalyst falls back to broadcast-nested-loop); the union+
  * window plan is one hash shuffle + one sort — the same cost as a
  * sort-merge join, at any scale. Ties: a right row at exactly the left
  * row's time matches (side orders right before left), and among equal
  * right times the largest sequence id wins.
  */
object AsOf {

  /** Left rows gain `matched: struct<...rightCols>` (null when no right
    * row precedes them).
    *
    * @param left      left side; must contain `key`, `time`, `seq`
    * @param right     right side; must contain `key`, `time`, `seq`
    * @param rightCols right columns to carry into the match struct
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, time: String,
      seq: String, rightCols: Seq[String]): DataFrame = {
    val matchType = org.apache.spark.sql.types.StructType(
      right.select(rightCols.map(col): _*).schema.fields)
    val leftType = org.apache.spark.sql.types.StructType(left.schema.fields)
    val leftPart = left.select(
      col(key), col(time), col(seq), lit(1).as("_side"),
      lit(null).cast(matchType).as("_match"),
      struct(left.columns.map(col): _*).as("_left"))
    val rightPart = right.select(
      col(key), col(time), col(seq), lit(0).as("_side"),
      struct(rightCols.map(col): _*).as("_match"),
      lit(null).cast(leftType).as("_left"))
    val w = Window.partitionBy(key)
      .orderBy(col(time), col("_side"), col(seq))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    leftPart.unionByName(rightPart)
      .withColumn("matched", last(when(col("_side") === 0, col("_match")),
        ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(col("_left.*"), col("matched"))
  }

  // ---------------------------------------------------------------------
  // q23_asof_join — purchase→click attribution: for every purchase, the
  // user's latest click at-or-before the purchase time, plus the gap.
  private def q23AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("us"))
    asOfJoin(purchases, clicks, key = "user_id", time = "us",
      seq = "event_id", rightCols = Seq("event_id", "us"))
      .select(
        col("event_id").as("purchase_id"), col("user_id"), col("us").as("p_us"),
        col("matched.event_id").as("click_id"),
        col("matched.us").as("click_us"),
        (col("us") - col("matched.us")).as("gap_us"))
      .orderBy("purchase_id")
  }

  private val q23Sql =
    """WITH u AS (
      |  SELECT user_id, epoch_us(ts) AS t, 0 AS side, event_id,
      |         event_id AS c_id, epoch_us(ts) AS c_us
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, epoch_us(ts), 1, event_id, NULL, NULL
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (SELECT user_id, t, side, event_id,
      |  last_value(CASE WHEN side = 0 THEN c_id END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY t, side, event_id
      |          ROWS UNBOUNDED PRECEDING) AS click_id,
      |  last_value(CASE WHEN side = 0 THEN c_us END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY t, side, event_id
      |          ROWS UNBOUNDED PRECEDING) AS click_us
      |  FROM u)
      |SELECT event_id AS purchase_id, user_id, t AS p_us,
      |       click_id, click_us, t - click_us AS gap_us
      |FROM m WHERE side = 1 ORDER BY purchase_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q23_asof_join", q23AsofJoin, Some(q23Sql)))
}
