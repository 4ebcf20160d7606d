package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened against silent-zero artifacts (round 10 shipped an empty
  * CORRECTNESS_r10.json — `{}`, zero entries — with no error anywhere):
  *  - `oracle_sql.json` is written BEFORE the query loop, so a mid-run
  *    kill/timeout leaves the full oracle map + every parquet dumped so
  *    far: the driver's compare degrades to PARTIAL rows, never `{}`.
  *  - A trailing-arg filter that matches ZERO queries (e.g. the driver
  *    passing an unexpected third argument) exits 2 loudly instead of
  *    quietly dumping nothing.
  *  - The written oracle_sql.json is round-tripped through Jackson and
  *    its key count asserted == the selected query count (exit 3 on
  *    mismatch) — the same parse the driver's `json.load` does.
  *  - `verify_manifest.json` records (selected, dumped, failed, oracle
  *    keys) so a partial run is distinguishable from a complete one.
  *  - Queries dump on a small thread pool (GRAFT_VERIFY_PAR, default 4;
  *    Spark job scheduling is thread-safe, writes go to disjoint dirs),
  *    cutting wall time ~3× against any driver-side timeout.
  *
  * Exit-code contract: rc != 0 only for structural failures — 2 (query
  * filter matched nothing), 3 (oracle JSON round-trip mismatch), 4
  * (zero queries dumped). A run where SOME queries fail still exits 0
  * deliberately: the driver's correctness signal is the per-query
  * DuckDB compare over whatever was dumped, and a non-zero rc here
  * risks the driver discarding the 140+ good dumps over one regression
  * (the exact artifact-zeroing failure mode rounds 10–11 suffered).
  * Anything consuming this tool directly must read
  * `verify_manifest.json` ({selected, dumped, failed, oracle_keys}) and
  * `verify_failures.json` — not the exit code — to detect partial runs.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: run only these queries (dev loop helper)
    val only = args.drop(2).toSet
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()

    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
    if (selected.isEmpty) {
      System.err.println(
        s"[verify] FATAL: query filter ${only.mkString("[", ",", "]")} " +
          s"matched 0 of ${SparkEntry.queries.size} registered queries — " +
          "refusing to emit an empty dump")
      spark.stop()
      sys.exit(2)
    }

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    // oracle map FIRST: a killed/timed-out run must still leave the
    // driver everything it needs to compare the queries that finished
    val oracleKeys = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
    val json = oracleKeys
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // round-trip self-check with the same parser family the driver uses
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$outDir/oracle_sql.json"))
    if (tree == null || !tree.isObject || tree.size() != oracleKeys.size) {
      System.err.println(
        s"[verify] FATAL: oracle_sql.json round-trip mismatch — wrote " +
          s"${oracleKeys.size} keys, parsed ${if (tree == null) "null" else tree.size()}")
      spark.stop()
      sys.exit(3)
    }

    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val dumped = new java.util.concurrent.atomic.AtomicInteger(0)
    val par = sys.env.getOrElse("GRAFT_VERIFY_PAR", "4").toInt.max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    selected.foreach { case (name, fn) =>
      pool.execute(() =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          dumped.incrementAndGet()
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures.add(name -> String.valueOf(e.getMessage))
        })
    }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)

    // machine-readable failure list (empty object when all green) so a
    // regression can't hide in a noisy stderr log
    import scala.jdk.CollectionConverters._
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      failures.asScala
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/verify_manifest.json"),
      s"""{"selected": ${selected.size}, "dumped": ${dumped.get()}, """ +
        s""""failed": ${failures.size()}, "oracle_keys": ${oracleKeys.size}}""")
    println(s"[verify] dumped ${dumped.get()}/${selected.size} queries, " +
      s"${failures.size()} failures, ${oracleKeys.size} oracle keys (round-trip OK)")
    spark.stop()
    if (dumped.get() == 0) sys.exit(4)
  }
}
