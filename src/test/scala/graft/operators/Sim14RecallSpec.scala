package graft.operators

import org.apache.spark.sql.functions._

/** sim14 incremental IVFPQ quality: the batch probed against the stored
  * cell-partitioned PQ-code index must recover most of the true top-3
  * index neighbors — the exact truth is the batch×index brute-force
  * cosine top-3, computed inline (Sim9RecallSpec's harness). sim14
  * stacks TWO approximations (IVF cell restriction + 8-byte ADC coarse
  * scoring before the exact rerank), so its recall is bounded above by
  * sim9's IVF-only recall on the same no-gap worst-case corpus (sim9
  * measured 0.650 at sf0.01). The round-12 knob sweep (ScaleProbe
  * `recall:sim14` arm, last at commit 561c6b9; table in the sim14
  * scaladoc) moved the shipped rerank
  * pool 50 → 100: measured recall@3 is now 0.650 (195/300) at sf0.01 —
  * the PQ coarse stage costs ZERO recall vs IVF-only, because the
  * top-100 pool fully absorbs ADC ranking noise (pool=50 measured
  * 0.643; the untrained round-10 codebook 0.630). Floor pinned at
  * ≥0.62 — above the best pool=50 number, with slack for corpus
  * regeneration.
  */
class Sim14RecallSpec extends graft.SparkSpec {

  test("sim14 incremental IVFPQ recall@3 vs exact batch-vs-index top-3 at sf0.01") {
    val d = sf("sf0.01")
    val dot = graft.functions.VectorFunctions.dotLong _
    val e = Similarity.scaledVectors(spark, d).localCheckpoint()
    val q = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("qid"), col("v").as("va"), col("nrm").as("na"))
    val c = e.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("nbr"), col("v").as("vb"), col("nrm").as("nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("nbr"))
    val exact = q.crossJoin(c)
      .withColumn("dot", dot(col("va"), col("vb")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("qid", "nbr")
    val got = graft.SparkEntry.queries("sim14_ann_ivfpq")(spark, d)
      .select("qid", "nbr")
    val nTruth = exact.count()
    assert(nTruth > 0L)
    val hit = exact.intersect(got).count()
    assert(hit.toDouble / nTruth >= 0.62,
      s"sim14 recall regressed: $hit / $nTruth")
  }
}
