package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions.col

/** Par.spreadTable's split estimate must follow the session's current
  * `files.maxPartitionBytes`: a table that is one split at the default
  * becomes many splits under a small setting, and the guard must switch
  * from repartition to identity (and back) within one session.
  */
class ParSpec extends SparkSpec {

  test("spreadTable follows files.maxPartitionBytes changes in one session") {
    val dir = java.nio.file.Files.createTempDirectory("par-spec").toString
    spark.range(20000).selectExpr("id", "id * 7 AS v")
      .coalesce(1).write.parquet(s"$dir/t.parquet")
    val bytes = new java.io.File(s"$dir/t.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val parallelism = spark.sparkContext.defaultParallelism
    def spreads: Boolean =
      Par.spreadTable(spark, dir, "t", col("id")).queryExecution.logical
        .exists(_.isInstanceOf[RepartitionByExpression])

    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    def restore(): Unit = saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      assert(spreads, "one default-size split should be repartitioned")
      // small enough that the file spans 2× the session's parallelism
      spark.conf.set(key, math.max(1L, bytes / (2L * parallelism)).toString)
      assert(!spreads, "a table already spanning the parallelism must pass through")
      restore()
      assert(spreads, "back at the default the table is one split again")
    } finally restore()
  }
}
