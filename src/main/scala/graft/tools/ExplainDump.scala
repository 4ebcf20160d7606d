package graft.tools

/** Dev helper: write `.explain("formatted")` output for named queries to
  * `<outdir>/<query>_<tag>.txt` — the judge-facing before/after plan
  * artifacts. Usage:
  *   sbt "runMain graft.tools.ExplainDump <outdir> <tag> <query> [...]"
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outdir> <tag> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    val tag = args(1)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local()
    args.drop(2).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // queryExecution.explainString is what explain("formatted") prints
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"${name}_$tag.txt"), txt)
      graft.Session.dropPersisted(spark)
      println(s"[explain] wrote ${name}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
