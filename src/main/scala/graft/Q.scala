package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine query: a Spark implementation plus (usually) a
  * DuckDB-runnable ANSI-SQL oracle over the same parquet tables.
  *
  * Determinism contract (so the driver's sorted-column value-hash compare
  * passes): every output column is either
  *   - an exact integer (counts, cent-scaled money, epoch micros),
  *   - a string / date / truncated timestamp,
  *   - or a double derived deterministically from exact integers
  *     (single division / sqrt of exact ints — IEEE-deterministic),
  * and every query has a total ORDER BY. Floating-point *aggregation*
  * (order-dependent rounding) never reaches an output column.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** DuckDB oracle-side physical hints (results unchanged). */
object OracleHints {
  /** Annotate every top-level CTE of an oracle's WITH chain with
    * DuckDB's `AS MATERIALIZED` hint. DuckDB (1.0) INLINES un-hinted
    * CTEs at every reference site, so a chain where CTE `x` feeds
    * several downstream CTEs that themselves fan out re-executes the
    * whole upstream plan once per reference, compounding
    * multiplicatively down the chain. Measured at sf0.01: pipe2's
    * oracle 146 s → 0.5 s, t18's unrolled 6-round BPE chain ~520 s →
    * seconds, identical rows (the driver's 144-query compare could not
    * finish inside its time budget in rounds 10–11 — CORRECTNESS_r10/
    * r11 = `{}`). The hint is purely physical; recursive CTEs (`rr`)
    * must stay un-hinted — DuckDB cannot materialize a self-referencing
    * table. Matches the stripMargin convention of the oracle strings
    * (CTE heads at column 0 or directly after `WITH `/`WITH RECURSIVE `,
    * continuations indented), so subquery aliases are never touched.
    */
  def materializeCtes(sql: String, recursive: Set[String] = Set("rr")): String =
    "(?m)^((?:WITH (?:RECURSIVE )?)?)([A-Za-z_][A-Za-z0-9_]*) AS \\(".r
      .replaceAllIn(sql, m =>
        if (recursive(m.group(2))) java.util.regex.Matcher.quoteReplacement(m.matched)
        else java.util.regex.Matcher.quoteReplacement(
          s"${m.group(1)}${m.group(2)} AS MATERIALIZED ("))
}

object Registry {
  def all: Seq[Q] =
    operators.Relational.queries ++
      operators.GraphOps.queries ++
      operators.TextOps.queries ++
      operators.TrainPrep.queries ++
      operators.Dedup.queries ++
      operators.Similarity.queries ++
      operators.VecStore.queries ++
      operators.Multimodal.queries ++
      operators.EventOps.queries ++
      operators.AsOf.queries ++
      operators.Skew.queries ++
      wistia.WistiaGate.queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
