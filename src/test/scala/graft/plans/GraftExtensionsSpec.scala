package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{DotLong, SparkShim}

class GraftExtensionsSpec extends SparkSpec {

  private def declarativeDot: DataFrame =
    spark.range(100).select(
      transform(sequence(lit(0), lit(31)), i => (col("id") + i).cast("long")).as("a"),
      transform(sequence(lit(0), lit(31)), i => (col("id") * 2 + i).cast("long")).as("b"))
      .select(aggregate(zip_with(col("a"), col("b"), _ * _), lit(0L), _ + _).as("dot"))

  private def hasDotLong(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.expressions.exists(_.exists(_.isInstanceOf[DotLong]))

  test("DotProductRewrite rewrites aggregate(zip_with(*)) to DotLong, same results") {
    val df = declarativeDot
    val rewritten = DotProductRewrite(df.queryExecution.analyzed)
    assert(hasDotLong(rewritten), "expected DotLong after rewrite")
    val fast = SparkShim.ofRows(spark, rewritten).collect().map(_.getLong(0))
    // the test session installs the rule, so the reference runs with it
    // excluded: aggregate(zip_with) evaluated as written
    val ref = withoutGraftRules {
      val plain = declarativeDot
      assert(!hasDotLong(plain.queryExecution.optimizedPlan))
      plain.collect().map(_.getLong(0))
    }
    assert(fast.sameElements(ref))
  }

  test("rule leaves non-matching aggregates untouched") {
    // zero != 0L → not a dot product; must not rewrite
    val df = spark.range(10).select(
      transform(sequence(lit(0), lit(3)), i => (col("id") + i).cast("long")).as("a"))
      .select(aggregate(col("a"), lit(5L), _ + _).as("s"))
    assert(!hasDotLong(DotProductRewrite(df.queryExecution.analyzed)))
  }

  test("rule fires in the default test session") {
    // Session.local installs GraftExtensions: the default test session
    // itself rewrites the declarative dot product
    val df = declarativeDot
    assert(hasDotLong(df.queryExecution.optimizedPlan))
    assert(df.collect().length === 100)
  }
}
