package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DotLong must be bit-identical to the aggregate/zip_with formulation it
  * replaced, in both codegen and interpreted modes.
  */
class VectorExprsSpec extends SparkSpec {

  test("dot_long matches aggregate/zip_with on random long vectors") {
    val df = spark.range(200).select(
      col("id"),
      transform(sequence(lit(0), lit(63)),
        i => pmod(hash(col("id") * 64 + i), lit(2000001)).cast("long") - 1000000L).as("a"),
      transform(sequence(lit(0), lit(63)),
        i => pmod(hash(col("id") * 64 + i + 7), lit(2000001)).cast("long") - 1000000L).as("b"))
    val both = df.select(
      VectorFunctions.dotLong(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), _ * _), lit(0L), _ + _).as("ref"),
      VectorFunctions.normSqLong(col("a")).as("nfast"),
      aggregate(transform(col("a"), x => x * x), lit(0L), _ + _).as("nref"))
    // the reference must not be rewritten to DotLong itself
    withoutGraftRules {
      assert(both.filter(col("fast") =!= col("ref") || col("nfast") =!= col("nref")).count() === 0)
    }
  }

  test("dot_long interpreted path (no codegen) agrees") {
    val conf = spark.conf
    val prev = (conf.get("spark.sql.codegen.wholeStage"),
      conf.get("spark.sql.codegen.factoryMode"))
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val df = spark.range(50).select(
        transform(sequence(lit(0), lit(15)), i => (col("id") + i).cast("long")).as("a"))
      val r = df.select(
        VectorFunctions.dotLong(col("a"), col("a")).as("fast"),
        aggregate(transform(col("a"), x => x * x), lit(0L), _ + _).as("ref"))
      assert(r.filter(col("fast") =!= col("ref")).count() === 0)
    } finally {
      conf.set("spark.sql.codegen.wholeStage", prev._1)
      conf.set("spark.sql.codegen.factoryMode", prev._2)
    }
  }

  test("hyperplane_bands matches the per-bit DotLong-sign composition") {
    import org.apache.spark.sql.graftshim.HyperplaneBands
    val df = spark.range(200).select(
      transform(sequence(lit(0), lit(63)),
        i => pmod(hash(col("id") * 64 + i), lit(2000001)).cast("long") - 1000000L).as("v"))
      .cache()
    // reference: one dot-sign per bit, packed 4 bits per band
    val w = HyperplaneBands.weights(128)
    val refCodes = (0 until 32).map { j =>
      (0 until 4).map { k =>
        val b = 4 * j + k
        val plane = typedlit((0 until 64).map(i => w(b * 64 + i)))
        when(VectorFunctions.dotLong(col("v"), plane) >= 0L, lit(1L << k)).otherwise(0L)
      }.reduce(_ + _)
    }
    val cmp = df.select(
      VectorFunctions.hyperplaneBands(col("v"), 128, 4).as("fast"),
      array(refCodes: _*).as("ref"))
    assert(cmp.filter(col("fast") =!= col("ref")).count() === 0)

    // interpreted path agrees with codegen
    val conf = spark.conf
    val prev = (conf.get("spark.sql.codegen.wholeStage"),
      conf.get("spark.sql.codegen.factoryMode"))
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = df.select(VectorFunctions.hyperplaneBands(col("v"), 128, 4).as("fast"),
        array(refCodes: _*).as("ref"))
      assert(interp.filter(col("fast") =!= col("ref")).count() === 0)
    } finally {
      conf.set("spark.sql.codegen.wholeStage", prev._1)
      conf.set("spark.sql.codegen.factoryMode", prev._2)
    }
    df.unpersist()
  }

  test("intersect_count_sorted matches size(array_intersect) on sorted sets") {
    val df = spark.range(300).select(
      sort_array(array_distinct(transform(sequence(lit(0), lit(40)),
        i => pmod(hash(col("id") * 37 + i), lit(60)).cast("long")))).as("a"),
      sort_array(array_distinct(transform(sequence(lit(0), lit(40)),
        i => pmod(hash(col("id") * 41 + i + 3), lit(60)).cast("long")))).as("b"))
    val r = df.select(
      VectorFunctions.intersectCountSorted(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
    assert(r.filter(col("fast") =!= col("ref")).count() === 0)
    // and with empty/disjoint arrays
    val edge = spark.sql(
      "SELECT CAST(array() AS ARRAY<BIGINT>) AS a, array(1L,2L,3L) AS b " +
      "UNION ALL SELECT array(5L), array(1L,2L)")
    val er = edge.select(
      VectorFunctions.intersectCountSorted(col("a"), col("b")).as("c")).collect()
    assert(er.map(_.getLong(0)).toSeq === Seq(0L, 0L))
  }

  test("dot_long is null-safe") {
    val df = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS a, array(1L, 2L) AS b")
    val r = df.select(VectorFunctions.dotLong(col("a"), col("b")).as("d")).collect()
    assert(r.head.isNullAt(0))
  }
}
