package graft.operators

import org.apache.spark.sql.functions._

/** sim16 IVFADC quality: the trained-L2-coarse + residual-PQ stack must
  * beat sim14's untrained-coarse ceiling — training lifts the IVF
  * recall ceiling itself (0.650 → 0.753 measured at sf0.01 by ScaleProbe's
  * `recall:sim16` arm, last at commit 561c6b9; table in the sim16
  * scaladoc) and residual encoding restores coarse ADC fidelity where
  * the pool is small. Floor pinned at ≥0.70 — between sim14's 0.650
  * ceiling and the measured 0.753, with slack for corpus regeneration;
  * a regression to the untrained ceiling fails the spec by construction.
  */
class Sim16ResidualSpec extends graft.SparkSpec {

  test("sim16 residual IVFPQ recall@3 beats the untrained-coarse ceiling at sf0.01") {
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
    val got = graft.SparkEntry.queries("sim16_residual_pq")(spark, d)
      .select("qid", "nbr")
    val nTruth = exact.count()
    assert(nTruth > 0L)
    val hit = exact.intersect(got).count()
    assert(hit.toDouble / nTruth >= 0.70,
      s"sim16 recall regressed: $hit / $nTruth")
  }
}
