package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-20 rewrite equivalence: each optimization that restructured an
  * operator's internals is pinned against the textbook form it replaced,
  * on the real gate corpus (sf0.01 — large enough that every branch of
  * the rewrites is exercised; the DuckDB oracle additionally gates the
  * registered queries end-to-end at three scale factors).
  */
class R20RewritesSpec extends SparkSpec {
  private def d = sf("sf0.01")

  test("q35 aggregate rewrite == textbook EXISTS/NOT-EXISTS Q21") {
    val now = graft.SparkEntry.queries("q35_tpch_q21")(spark, d)
      .collect().toSeq
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("r20q35_li")
    graft.Tables.orders(spark, d).createOrReplaceTempView("r20q35_ord")
    graft.Tables.supplier(spark, d).createOrReplaceTempView("r20q35_sup")
    graft.Tables.nation(spark, d).createOrReplaceTempView("r20q35_nat")
    val ref = spark.sql(
      """SELECT s_name, COUNT(*) AS numwait
        |FROM r20q35_sup JOIN r20q35_li l1 ON s_suppkey = l1.l_suppkey
        |  JOIN r20q35_ord ON o_orderkey = l1.l_orderkey
        |  JOIN r20q35_nat ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM r20q35_li l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM r20q35_li l3
        |              WHERE l3.l_orderkey = l1.l_orderkey
        |                AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |  AND n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3')
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)
      .collect().toSeq
    assert(ref.nonEmpty, "empty reference result would vacuously pass")
    assert(now == ref)
  }

  test("fused one-pass BM25 == two-scan dl-join-tf form (doc grain)") {
    val qTerms = Seq("hash", "join", "scan")
    val fused = TextOps.bm25DocScores(spark, d)
      .orderBy("doc_id").collect().toSeq
    // the pre-r20 two-scan formulation, verbatim
    val toks = graft.Tables.documents(spark, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val totals = dl.agg(sum("dl").as("tt"), count(lit(1)).as("n"))
    val tf = toks.filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val ref = tf.join(broadcast(dft), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("avg", expr("tt div n"))
      .withColumn("tfn_ppm",
        expr("(22L * tf * avg * 1000000L) div (10L * tf * avg + 3L * avg + 9L * dl)"))
      .withColumn("idf_ppm",
        least(expr("((n - df) * 1000000L) div df"), lit(100000000L)))
      .withColumn("s_ppm", expr("(tfn_ppm * idf_ppm) div 1000000L"))
      .groupBy("doc_id")
      .agg(sum("s_ppm").as("score_ppm"), count(lit(1)).as("n_terms"))
      .orderBy("doc_id").collect().toSeq
    assert(ref.nonEmpty)
    assert(fused == ref)
  }

  test("fused one-pass BM25 == two-scan form (chunk grain)") {
    val qTerms = Seq("hash", "join", "scan")
    val fused = TextOps.chunkBm25Scores(spark, d)
      .orderBy("doc_id", "k").collect().toSeq
    val toks = TrainPrep.pk6TokenChunks(spark, d)
    val dl = toks.groupBy("doc_id", "k").agg(count(lit(1)).as("dl"))
    val totals = dl.agg(sum("dl").as("tt"), count(lit(1)).as("n"))
    val tf = toks.filter(col("tok").isin(qTerms: _*))
      .groupBy("doc_id", "k", "tok").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val ref = tf.join(broadcast(dft), "tok")
      .join(dl, Seq("doc_id", "k"))
      .crossJoin(broadcast(totals))
      .withColumn("avg", expr("tt div n"))
      .withColumn("tfn_ppm",
        expr("(22L * tf * avg * 1000000L) div (10L * tf * avg + 3L * avg + 9L * dl)"))
      .withColumn("idf_ppm",
        least(expr("((n - df) * 1000000L) div df"), lit(100000000L)))
      .withColumn("s_ppm", expr("(tfn_ppm * idf_ppm) div 1000000L"))
      .groupBy(col("doc_id"), col("k"))
      .agg(sum("s_ppm").as("score_ppm"), count(lit(1)).as("n_terms"))
      .orderBy("doc_id", "k").collect().toSeq
    assert(ref.nonEmpty)
    assert(fused == ref)
  }

  test("array-form percentiles == scalar-form (q29/q32 values)") {
    def cents(c: org.apache.spark.sql.Column) =
      round(c * 100, 0).cast("long") // Relational.cents, verbatim
    val c = cents(col("o_totalprice"))
    val ref = graft.Tables.orders(spark, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        percentile(c, lit(0.5)).as("p50_cents"),
        percentile(c, lit(0.9)).as("p90_cents"))
      .orderBy("o_orderstatus").collect().toSeq
    assert(ref.nonEmpty)
    // q32 carries the same exact columns beside its sketch verdicts
    for (q <- Seq("q29_percentiles", "q32_approx_percentiles")) {
      val now = graft.SparkEntry.queries(q)(spark, d)
        .select("o_orderstatus", "n", "p50_cents", "p90_cents")
        .orderBy("o_orderstatus").collect().toSeq
      assert(now == ref, q)
    }
  }
}
