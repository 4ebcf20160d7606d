package graft

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Execution is forced through the `noop` sink so
  * the full plan (all output columns, not just a count) materializes —
  * `count()` would let Catalyst prune the measured work away.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // warm every query once at the smallest sf so measured numbers are
    // steady-state (codegen compilation + JIT are one-time JVM costs, not
    // per-query work at scale)
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // median of 3 warm passes per query: the median is insensitive to a
    // one-off GC/JIT/OS-cache outlier in either direction, so two
    // same-session Bench runs agree per-query where best-of-2 could
    // latch a lucky minimum (runs interleave whole passes so cache
    // effects even out across queries)
    // failure-honest: a query that throws contributes NO timing — its
    // elapsed time is the time-to-crash, not the query's cost, and a ~0.05 s
    // analysis failure would otherwise read as a 100× speedup in any
    // cross-round diff. A pass simply omits failed queries from its map;
    // the reported `failed` set is recomputed at the end from the ACCEPTED
    // passes only, so a failure seen only in a stall-discarded pass does
    // not leak into the artifact.
    val allNames = SparkEntry.queries.keySet
    def pass(): Map[String, Double] =
      SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        Session.dropPersisted(spark)
        if (ok) Some(name -> dt) else None
      }.toMap
    // stall-resistant capture: this VM intermittently stalls Spark jobs at
    // idle CPU for minutes (documented in ScaleProbe; it inflated the whole
    // round-7 artifact ~2.9×). A stalled pass is detectable — its TOTAL is
    // far above the best pass of the same session — and recoverable by
    // re-running just that pass. Accept 3 passes; while the worst pass
    // total exceeds 1.5× the best, replace it with a fresh pass (≤2
    // retries), then take the per-query median of the accepted 3.
    val passes = scala.collection.mutable.ArrayBuffer(pass(), pass(), pass())
    var retries = 0
    // stall comparison must be apples-to-apples: a heavy query that threw
    // in exactly one pass would drop that pass's raw total and spuriously
    // trip (or mask) the 1.5× check, so totals are computed over the keys
    // common to every current pass.
    def commonTotal(p: Map[String, Double], common: Set[String]): Double =
      common.iterator.map(p).sum
    while (retries < 2 && {
      val common = passes.map(_.keySet).reduce(_ intersect _)
      val ts = passes.map(commonTotal(_, common))
      ts.max > 1.5 * ts.min
    }) {
      val common = passes.map(_.keySet).reduce(_ intersect _)
      val worst = passes.indexOf(passes.maxBy(commonTotal(_, common)))
      System.err.println(
        f"[bench] pass $worst stalled (${commonTotal(passes(worst), common)}%.1f s vs best " +
        f"${passes.map(commonTotal(_, common)).min}%.1f s); re-running")
      passes(worst) = pass()
      retries += 1
    }
    // median only over queries that succeeded in every accepted pass; a
    // query missing from any accepted pass failed there and is listed in
    // `failed` (recomputed here — discarded stall passes don't count)
    val okKeys = passes.map(_.keySet).reduce(_ intersect _)
    val failed = allNames -- okKeys
    // SPREAD STABILIZATION: a handful of queries are bimodal on this VM
    // (dd13/dd14 observed 1.2–5.1 s within one session), so a
    // median-of-3 lands on whichever side the coin fell and flips
    // round-over-round diffs 2× on untouched code. A query whose 3
    // accepted passes spread more than 1.5× gets up to 2 extra SOLO
    // re-runs; its median is then the median of 5, which equals the
    // median of the middle 3 — the extremes stop deciding it. The
    // sidecar records every query's final sample set and spread so a
    // shaky median is visible in the artifact.
    def runOne(name: String): Option[Double] = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      Session.dropPersisted(spark)
      if (ok) Some(dt) else None
    }
    val samples: Map[String, Seq[Double]] = okKeys.toSeq.sorted.map { k =>
      var vals = passes.map(_(k)).toSeq
      var extras = 0
      while (extras < 2 && vals.max > 1.5 * vals.min) {
        System.err.println(
          f"[bench] $k spread ${vals.max / vals.min}%.2fx over ${vals.size} passes; re-running")
        runOne(k).foreach(v => vals = vals :+ v)
        extras += 1
      }
      k -> vals
    }.toMap
    val results = okKeys.toSeq.sorted.map { k =>
      val s = samples(k).sorted
      // true median: odd sizes take the middle, the even size a failed
      // stabilization re-run can leave (3 + 1) averages the two middles
      // — the lower-middle alone would bias a bimodal sample low
      k -> (if (s.size % 2 == 1) s(s.size / 2)
            else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // the stdout line is the driver's contract, but a truncated pipe
    // capture once lost the head of it (round 6's BENCH artifact); the
    // sidecar file makes the per-query map independently recoverable —
    // and now also carries every accepted pass (per-query, per-pass) plus
    // pass totals and the stall-retry count, so a machine-inflated capture
    // is diagnosable from the artifact alone
    val passJson = passes.map { p =>
      val m = p.keys.toSeq.sorted.map(k => "\"" + k + f"""\":${p(k)}%.3f""")
        .mkString("{", ",", "}")
      f"""{"total":${p.values.sum}%.3f,"queries":$m}"""
    }.mkString("[", ",", "]")
    // per-query sample sets + spread (max/min over the final set, incl.
    // any stabilization re-runs) — the shaky-median detector
    val spreadJson = okKeys.toSeq.sorted.map { k =>
      val s = samples(k)
      "\"" + k + "\":" +
        f"""{"spread":${s.max / s.min}%.3f,"samples":${
          s.map(v => f"$v%.3f").mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    val sidecar =
      f"""{"median":$line,"failed":$failedJson,"stall_retries":$retries,"spreads":$spreadJson,"passes":$passJson}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_queries.json"), sidecar + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    spark.stop()
    // COMPACT metric line LAST — this is the line the driver parses.
    // Eleven rounds of BENCH_rN.json have parsed:null for two stacked
    // reasons: (1) the driver keeps only the last ~2000 chars of output
    // and the 144-query line no longer fits inside that window; (2) the
    // driver json-parses the FINAL line, which was always sbt's
    // "[success] Total time" epilogue (suppressed via build.sbt
    // showSuccess:=false). So: full per-query line above for human/tail
    // readers, per-query medians + all passes in the sidecar, and this
    // short (<300 char) summary as the program's very last stdout write,
    // emitted after spark.stop() so no Spark shutdown logging can land
    // after it on the merged stream the driver captures.
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"failed":$failedJson,"sf":"$sfDir","per_query":"bench_queries.json"}""")
    System.out.flush()
  }
}
