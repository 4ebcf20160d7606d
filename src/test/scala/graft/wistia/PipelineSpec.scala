package graft.wistia

import graft.SparkSpec
import graft.sources.RawZone
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** End-to-end lifecycle tests over the tri-layer lake: §3.1 batch and
  * §3.2 incremental, raw JSON → warehouse parquet.
  */
class PipelineSpec extends SparkSpec {

  private val mediaJson = Seq(
    """{"id": 11, "hashed_id": "abc", "name": "My FB Promo", "duration": 100.0,
      | "project": {"id": 7, "name": "P"}, "type": "Video"}""",
    """{"id": 12, "hashed_id": "xyz", "name": "Other", "duration": 50.0,
      | "project": {"id": 7, "name": "P"}, "type": "Video"}""",
    """{"id": 13, "hashed_id": "skip", "name": "Not targeted", "duration": 10.0,
      | "project": {"id": 8, "name": "Q"}, "type": "Video"}""")
    .map(_.stripMargin.replace("\n", ""))

  private def eventJson(key: String, visitor: String, media: String,
      at: String, pct: Double): String =
    s"""{"received_at": "$at", "event_key": "$key", "visitor_key": "$visitor",
       | "media_id": "$media", "percent_viewed": $pct, "ip": "1.1.1.1",
       | "country": "US",
       | "user_agent_details": {"browser": "FF", "platform": "linux", "mobile": false}}"""
      .stripMargin.replace("\n", "")

  private def writeRaw(root: String, stamp: String, events: Seq[String]): Unit = {
    import spark.implicits._
    RawZone.writeRun(
      spark.read.schema(Schemas.rawMedia).json(mediaJson.toDS), root, "media", stamp)
    RawZone.writeRun(
      spark.read.schema(Schemas.rawEvent).json(events.toDS), root, "events", stamp)
  }

  test("runBatch: raw JSON -> star schema, appends accumulate (T3 faithful)") {
    val dir = Files.createTempDirectory("pipeline").toString
    val wh = Pipeline.Warehouse(s"$dir/wh")
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    writeRaw(s"$dir/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5),
      eventJson("e3", "v2", "xyz", "2024-03-02T09:00:00Z", 0.0)))

    val written = Pipeline.runBatch(spark, s"$dir/raw", wh,
      targetHashedIds = Seq("abc", "xyz"), ingestionTs = ts0, scaleDivisor = 1.0)
    // returns per-RUN rows (== table totals on a first run)
    assert(written === Map(
      "dim_media" -> 2L, "dim_visitor" -> 2L, "fact_media_engagement" -> 2L))

    val fact = RawZone.warehouse(spark, wh.fact)
    val r = fact.filter(col("media_id") === "abc").collect().head
    // v1 on abc: credit min(20s, 0.3*100)=20, play fallback 1, rate 0.2
    assert(r.getAs[Long]("play_count") === 1L)
    assert(r.getAs[Double]("total_watch_time") === 20.0)
    assert(r.getAs[Double]("play_rate") === 0.2)
    // v2 never progressed: play_count 0 forces watch/rate 0
    val r2 = fact.filter(col("media_id") === "xyz").collect().head
    assert(r2.getAs[Long]("play_count") === 0L)
    assert(r2.getAs[Double]("total_watch_time") === 0.0)
    // channel classifier fired on the FB title
    assert(RawZone.warehouse(spark, wh.dimMedia)
      .filter(col("media_id") === "abc").select("channel").collect().head.getString(0)
      === "Facebook")

    // second run appends (faithful T3 duplication): the tables double,
    // the run reports its own rows
    val written2 = Pipeline.runBatch(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, scaleDivisor = 1.0)
    assert(written2 === written)
    assert(RawZone.warehouse(spark, wh.fact).count() === 4L)
    assert(RawZone.warehouse(spark, wh.dimMedia).count() === 4L)
  }

  test("runBatchLogged: per-stage run history rides the writes; failures are logged too") {
    val dir = Files.createTempDirectory("pipeline_log").toString
    val wh = Pipeline.Warehouse(s"$dir/wh")
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    writeRaw(s"$dir/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5),
      eventJson("e3", "v2", "xyz", "2024-03-02T09:00:00Z", 0.0)))
    // every runBatch is logged: no separate logged variant
    val written = Pipeline.runBatch(spark, s"$dir/raw", wh,
      targetHashedIds = Seq("abc", "xyz"), ingestionTs = ts0, scaleDivisor = 1.0)
    assert(written === Map(
      "dim_media" -> 2L, "dim_visitor" -> 2L, "fact_media_engagement" -> 2L))
    val log1 = graft.sources.RunLog.read(spark, s"${wh.root}/run_log")
    assert(log1.count() === 3L)
    assert(log1.filter(col("status") =!= "ok").count() === 0L)
    // the observed counts equal what actually landed, stage by stage
    assert(log1.select("stage", "rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === written)
    assert(log1.filter(col("millis") < 0L).count() === 0L)
    // second run appends 3 more history rows (T3-faithful writes)
    Pipeline.runBatch(spark, s"$dir/raw", wh, Seq("abc", "xyz"), ts0,
      scaleDivisor = 1.0)
    assert(graft.sources.RunLog.read(spark, s"${wh.root}/run_log").count() === 6L)

    // failing run: the fact path is blocked by a regular FILE, so stage 3
    // throws — the log must still carry dims=ok + fact=failed, and the
    // original error must propagate
    val dir2 = Files.createTempDirectory("pipeline_logfail").toString
    val wh2 = Pipeline.Warehouse(s"$dir2/wh")
    writeRaw(s"$dir2/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2)))
    Files.createDirectories(java.nio.file.Paths.get(wh2.root))
    Files.createFile(java.nio.file.Paths.get(wh2.fact))
    intercept[Exception] {
      Pipeline.runBatch(spark, s"$dir2/raw", wh2, Seq("abc"), ts0,
        scaleDivisor = 1.0)
    }
    val log2 = graft.sources.RunLog.read(spark, s"${wh2.root}/run_log")
      .select("stage", "status", "rows").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(log2("dim_media") === (("ok", 1L))) // only "abc" targeted
    assert(log2("dim_visitor") === (("ok", 1L)))
    assert(log2("fact_media_engagement")._1 === "failed")
    assert(log2("fact_media_engagement")._2 === -1L)
  }

  test("runBatchCatalog: idempotent DDL bootstrap, appends by table name") {
    val dir = Files.createTempDirectory("pipeline_cat").toString
    val wh = Pipeline.CatalogWarehouse("wistia_test")
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    writeRaw(s"$dir/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5),
      eventJson("e3", "v2", "xyz", "2024-03-02T09:00:00Z", 0.0)))

    val counts = Pipeline.runBatchCatalog(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, scaleDivisor = 1.0, dbLocation = Some(s"$dir/db"))
    assert(counts === Map(
      "dim_media" -> 2L, "dim_visitor" -> 2L, "fact_media_engagement" -> 2L))

    // tables are real catalog objects with the fact date-partitioned
    assert(spark.catalog.tableExists(wh.fact))
    assert(spark.sql(s"DESCRIBE TABLE ${wh.fact}").collect()
      .exists(_.getString(0) == "# Partition Information"))
    // results land with the star semantics intact
    assert(spark.table(wh.fact).filter(col("media_id") === "abc")
      .select("total_watch_time").collect().head.getDouble(0) === 20.0)

    // re-run: CREATE IF NOT EXISTS is a no-op, appends accumulate (T3)
    val counts2 = Pipeline.runBatchCatalog(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, scaleDivisor = 1.0, dbLocation = Some(s"$dir/db"))
    assert(counts2 === counts) // rows written this run
    assert(spark.table(wh.fact).count() === 4L)
    // both runs logged their stages under the database's location
    val log = graft.sources.RunLog.read(spark, s"$dir/db/run_log").collect()
    assert(log.length === 6)
    assert(log.forall(_.getAs[String]("status") == "ok"))

    // K5 catalog analogue: TRUNCATE + reload keeps the table object
    // (detach the reload frame from the table — TRUNCATE invalidates
    // caches of plans that reference it)
    val src = spark.table(wh.dimMedia)
    val reload = spark.createDataFrame(
      java.util.Arrays.asList(src.limit(1).collect(): _*), src.schema)
    graft.sources.Catalog.truncateReload(spark, reload, wh.dimMedia)
    assert(spark.table(wh.dimMedia).count() === 1L)
    spark.sql(s"DROP DATABASE IF EXISTS ${wh.db} CASCADE")
  }

  test("runStreaming: checkpoint-as-HWM over the raw JSON zone (T5)") {
    val dir = Files.createTempDirectory("pipeline").toString
    val wh = Pipeline.Warehouse(s"$dir/wh")
    val ckpt = s"$dir/ckpt"
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    writeRaw(s"$dir/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5)))

    val q1 = Pipeline.runStreaming(spark, s"$dir/raw", wh, Seq("abc", "xyz"), ts0, ckpt)
    q1.awaitTermination(60000)
    assert(RawZone.warehouse(spark, wh.fact).count() === 2)

    // second activation: only the new run's file is processed — the
    // checkpoint IS the high-water mark, no MAX query anywhere
    writeRaw(s"$dir/raw", "20250502_000000", Seq(
      eventJson("e3", "v2", "abc", "2024-03-01T11:00:00Z", 0.6)))
    val q2 = Pipeline.runStreaming(spark, s"$dir/raw", wh, Seq("abc", "xyz"), ts0, ckpt)
    q2.awaitTermination(60000)
    val fact = RawZone.warehouse(spark, wh.fact)
    assert(fact.count() === 3)
    assert(fact.filter(org.apache.spark.sql.functions.col("visitor_id") === "v2")
      .count() === 1)
  }

  test("runStreamingLogged: one run-log row per trigger incl. a failed trigger") {
    val dir = Files.createTempDirectory("pipeline_strlog").toString
    val wh = Pipeline.Warehouse(s"$dir/wh")
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    writeRaw(s"$dir/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5)))
    // every runStreaming trigger is logged: no separate logged variant
    val q1 = Pipeline.runStreaming(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, s"$dir/ckpt")
    q1.awaitTermination(60000)
    assert(RawZone.warehouse(spark, wh.fact).count() === 2)
    val log1 = graft.sources.RunLog.read(spark, s"${wh.root}/run_log")
      .filter(col("pipeline") === "runStreaming").collect()
    assert(log1.length === 1)
    assert(log1(0).getAs[String]("stage").startsWith("fact_trigger_"))
    assert(log1(0).getAs[String]("status") === "ok")
    assert(log1(0).getAs[Long]("rows") === 2L)

    // second activation = a new trigger, a new log row with the new
    // batch's own count
    writeRaw(s"$dir/raw", "20250502_000000", Seq(
      eventJson("e3", "v2", "abc", "2024-03-01T11:00:00Z", 0.6)))
    val q2 = Pipeline.runStreaming(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, s"$dir/ckpt")
    q2.awaitTermination(60000)
    val log2 = graft.sources.RunLog.read(spark, s"${wh.root}/run_log")
      .filter(col("pipeline") === "runStreaming")
      .orderBy("stage").collect()
    assert(log2.length === 2)
    assert(log2.map(_.getAs[Long]("rows")).toSeq === Seq(2L, 1L))

    // failed trigger: block the fact path — the stream dies AND the
    // failed trigger is in the log (status=failed, rows=-1), which is
    // exactly the forensic a checkpoint restart needs
    val dir2 = Files.createTempDirectory("pipeline_strlogfail").toString
    val wh2 = Pipeline.Warehouse(s"$dir2/wh")
    writeRaw(s"$dir2/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2)))
    Files.createDirectories(java.nio.file.Paths.get(wh2.root))
    Files.createFile(java.nio.file.Paths.get(wh2.fact))
    val q3 = Pipeline.runStreaming(spark, s"$dir2/raw", wh2,
      Seq("abc"), ts0, s"$dir2/ckpt")
    intercept[Exception] { q3.awaitTermination(60000); q3.stop() }
    val log3 = graft.sources.RunLog.read(spark, s"${wh2.root}/run_log").collect()
    assert(log3.length === 1)
    assert(log3(0).getAs[String]("status") === "failed")
    assert(log3(0).getAs[Long]("rows") === -1L)
    assert(log3(0).getAs[String]("stage") === "fact_trigger_0")
  }

  test("runBatchIdempotent: re-running the same input converges (T3 fixed)") {
    val dir = Files.createTempDirectory("pipeline_idem").toString
    val wh = Pipeline.Warehouse(s"$dir/wh")
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    writeRaw(s"$dir/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5),
      eventJson("e3", "v2", "xyz", "2024-03-02T09:00:00Z", 0.0)))

    val c1 = Pipeline.runBatchIdempotent(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, scaleDivisor = 1.0)
    assert(c1 === Map(
      "dim_media" -> 2L, "dim_visitor" -> 2L, "fact_media_engagement" -> 2L))
    def snapshot(path: String): Set[String] = {
      val df = RawZone.warehouse(spark, path)
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toString).toSet
    }
    val f1 = snapshot(wh.fact); val m1 = snapshot(wh.dimMedia)
    val v1 = snapshot(wh.dimVisitor)

    // re-run the SAME raw input: the same rows are offered and the
    // contents must be unchanged (the faithful runBatch doubles
    // everything here — see the T3 test)
    val c2 = Pipeline.runBatchIdempotent(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, scaleDivisor = 1.0)
    assert(c2 === c1)
    assert(snapshot(wh.fact) === f1)
    assert(snapshot(wh.dimMedia) === m1)
    assert(snapshot(wh.dimVisitor) === v1)

    // a later batch with one overlapping key: only the new keys land,
    // first write wins on the overlap
    writeRaw(s"$dir/raw", "20250502_000000", Seq(
      eventJson("e4", "v1", "abc", "2024-03-01T11:00:00Z", 0.9), // same (media,visitor,date) key
      eventJson("e5", "v3", "xyz", "2024-03-03T08:00:00Z", 0.4))) // new key
    val c3 = Pipeline.runBatchIdempotent(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, scaleDivisor = 1.0)
    // the run reports the staged rows it offered the merge; the tables
    // gained only the new keys
    assert(c3("fact_media_engagement") === 2L)
    assert(RawZone.warehouse(spark, wh.fact).count() === 3L)
    assert(RawZone.warehouse(spark, wh.dimVisitor).count() === 3L)
    // overlap kept its first-run values (e4's 0.9 did not overwrite)
    val kept = RawZone.warehouse(spark, wh.fact)
      .filter(col("media_id") === "abc" && col("visitor_id") === "v1")
      .collect().head
    assert(kept.getAs[Double]("play_rate") === 0.2)
  }

  test("Catalog.mergeAppend: keyed catalog appends converge on re-run") {
    import spark.implicits._
    val db = "merge_test"
    val dir = Files.createTempDirectory("cat_merge").toString
    graft.sources.Catalog.ensureDatabase(spark, db, Some(s"$dir/db"))
    val t = s"$db.fact"
    val batch = Seq((1L, "2024-03-01", 10L), (2L, "2024-03-01", 20L),
      (3L, "2024-03-02", 30L)).toDF("k", "date", "v")
    graft.sources.Catalog.mergeAppend(spark, batch, t,
      keys = Seq("k", "date"), partitionBy = Seq("date"))
    assert(spark.table(t).count() === 3L)
    // re-run same batch: no growth, identical contents
    graft.sources.Catalog.mergeAppend(spark, batch, t,
      keys = Seq("k", "date"), partitionBy = Seq("date"))
    assert(spark.table(t).count() === 3L)
    // overlap keeps first-written value; new key lands
    val b2 = Seq((1L, "2024-03-01", 99L), (4L, "2024-03-03", 40L))
      .toDF("k", "date", "v")
    graft.sources.Catalog.mergeAppend(spark, b2, t,
      keys = Seq("k", "date"), partitionBy = Seq("date"))
    assert(spark.table(t).count() === 4L)
    assert(spark.table(t).filter(col("k") === 1L)
      .select("v").head().getLong(0) === 10L)
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("Catalog.appendEvolving: field addition evolves the table; old shapes replay; conflicts throw") {
    import spark.implicits._
    val db = "evolve_test"
    val dir = Files.createTempDirectory("cat_evolve").toString
    graft.sources.Catalog.ensureDatabase(spark, db, Some(s"$dir/db"))
    val t = s"$db.fact"
    // v1 era: two nightly batches at the original shape
    val v1 = Seq((1L, "2024-03-01", 10L), (2L, "2024-03-02", 20L))
      .toDF("k", "date", "v")
    graft.sources.Catalog.appendEvolving(spark, v1, t, partitionBy = Seq("date"))
    // the API adds a field: v2 batch carries `score`
    val v2 = Seq((3L, "2024-03-03", 30L, 0.5)).toDF("k", "date", "v", "score")
    graft.sources.Catalog.appendEvolving(spark, v2, t, partitionBy = Seq("date"))
    // table evolved: old rows read NULL (no file rewrite), new row typed
    val rows = spark.table(t).orderBy("k")
      .select("k", "v", "score").collect().toSeq
    assert(rows.map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)))) ===
      Seq((1L, 10L, None), (2L, 20L, None), (3L, 30L, Some(0.5))))
    // an old-shaped replay batch (no `score`) still lands, null-filled —
    // mixed producers during a rollout don't break the warehouse
    graft.sources.Catalog.appendEvolving(spark,
      Seq((4L, "2024-03-04", 40L)).toDF("k", "date", "v"),
      t, partitionBy = Seq("date"))
    assert(spark.table(t).filter(col("k") === 4L)
      .select("score").head().isNullAt(0))
    assert(spark.table(t).count() === 4L)
    // partition pruning intact after evolution
    val pruned = spark.table(t).filter(col("date") === "2024-03-03")
    assert(pruned.inputFiles.forall(_.contains("date=2024-03-03")))
    // type CHANGE is not evolution: loud failure, table untouched
    val bad = Seq((5L, "2024-03-05", "not-a-long")).toDF("k", "date", "v")
    val e = intercept[IllegalArgumentException] {
      graft.sources.Catalog.appendEvolving(spark, bad, t, partitionBy = Seq("date"))
    }
    assert(e.getMessage.contains("type conflicts"))
    assert(spark.table(t).count() === 4L)
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("Catalog.compactPartitions: fragmented partitions shrink, content and quiet partitions untouched") {
    import spark.implicits._
    val db = "compact_test"
    val dir = Files.createTempDirectory("cat_compact").toString
    graft.sources.Catalog.ensureDatabase(spark, db, Some(s"$dir/db"))
    val t = s"$db.fact"
    // 6 single-row appends into date A (6 files), one into date B
    (1 to 6).foreach { i =>
      graft.sources.Catalog.append(
        Seq((i.toLong, i * 10L, "2024-03-01")).toDF("k", "v", "date"),
        t, partitionBy = Seq("date"))
    }
    graft.sources.Catalog.append(
      Seq((7L, 70L, "2024-03-02")).toDF("k", "v", "date"),
      t, partitionBy = Seq("date"))
    val before = spark.table(t).orderBy("k").collect().toSeq
    val quietFiles = spark.table(t)
      .filter(col("date") === "2024-03-02").inputFiles.toSeq

    val results = graft.sources.Catalog.compactPartitions(
      spark, t, partitionBy = Seq("date"), maxFiles = 4)

    // only the fragmented partition was rewritten, down to 1 file
    assert(results.map(_.partition) === Seq(Map("date" -> "2024-03-01")))
    assert(results.head.filesBefore === 6 && results.head.filesAfter === 1)
    // content identical; the quiet partition kept its exact files
    assert(spark.table(t).orderBy("k").collect().toSeq === before)
    assert(spark.table(t).filter(col("date") === "2024-03-02")
      .inputFiles.toSeq === quietFiles)
    // idempotent: second pass finds nothing to do
    assert(graft.sources.Catalog.compactPartitions(
      spark, t, partitionBy = Seq("date"), maxFiles = 4).isEmpty)
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("Catalog.compactPartitions: one batched write compacts N partitions in far fewer than N jobs") {
    import spark.implicits._
    val db = "compact_batch_test"
    val dir = Files.createTempDirectory("cat_compactb").toString
    graft.sources.Catalog.ensureDatabase(spark, db, Some(s"$dir/db"))
    val t = s"$db.fact"
    // 8 partitions, each fragmented into 6 single-row files
    val dates = (1 to 8).map(i => f"2024-03-$i%02d")
    for (d <- dates; i <- 1 to 6) {
      graft.sources.Catalog.append(
        Seq((d.hashCode.toLong * 10 + i, i * 10L, d)).toDF("k", "v", "date"),
        t, partitionBy = Seq("date"))
    }
    val before = spark.table(t).orderBy("k").collect().toSeq
    assert(dates.forall(d =>
      spark.table(t).filter(col("date") === d).inputFiles.length === 6))

    spark.sparkContext.setJobGroup("compact-batch", "batched compaction")
    val results =
      try graft.sources.Catalog.compactPartitions(
        spark, t, partitionBy = Seq("date"), maxFiles = 4)
      finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker
      .getJobIdsForGroup("compact-batch").length

    // all 8 partitions compacted, identical contents
    assert(results.map(_.partition("date")).sorted === dates)
    assert(results.forall(r => r.filesBefore === 6 && r.filesAfter === 1))
    assert(spark.table(t).orderBy("k").collect().toSeq === before)
    // the point of batching: ONE pinned write for all 8 partitions —
    // far fewer jobs than the 2-per-partition serial loop (≥16)
    assert(jobs <= 6, s"batched compaction ran $jobs jobs for 8 partitions")
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("runStreaming idempotent=true: merge sink dedupes a replayed batch") {
    val dir = Files.createTempDirectory("pipeline_sidem").toString
    val wh = Pipeline.Warehouse(s"$dir/wh")
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    writeRaw(s"$dir/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5)))

    val q1 = Pipeline.runStreaming(spark, s"$dir/raw", wh, Seq("abc", "xyz"),
      ts0, s"$dir/ckpt1", idempotent = true)
    q1.awaitTermination(60000)
    assert(RawZone.warehouse(spark, wh.fact).count() === 2)

    // simulate a foreachBatch replay: a FRESH checkpoint re-reads the
    // same files (the at-least-once hole) — the merge sink converges
    // where the plain append sink would double the table
    val q2 = Pipeline.runStreaming(spark, s"$dir/raw", wh, Seq("abc", "xyz"),
      ts0, s"$dir/ckpt2", idempotent = true)
    q2.awaitTermination(60000)
    assert(RawZone.warehouse(spark, wh.fact).count() === 2)
  }

  test("runIncremental: HWM+1s filter, dim truncate, per-event fact") {
    val dir = Files.createTempDirectory("pipeline").toString
    val wh = Pipeline.Warehouse(s"$dir/wh")
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    writeRaw(s"$dir/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5)))

    // first incremental run: empty warehouse → historical start, both events land
    val c1 = Pipeline.runIncremental(spark, s"$dir/raw", wh, Seq("abc", "xyz"), ts0)
    assert(c1 === Map("dim_media" -> 2L, "fact_media_engagement" -> 2L))

    // new run adds one event strictly after the HWM (+1s buffer excludes
    // the old ones) — only it is appended; dim stays truncate-refreshed
    writeRaw(s"$dir/raw", "20250502_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2), // old, re-read
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5), // old (= HWM)
      eventJson("e3", "v2", "abc", "2024-03-01T10:00:25Z", 0.6))) // new
    val c2 = Pipeline.runIncremental(spark, s"$dir/raw", wh, Seq("abc", "xyz"), ts0)
    // per-RUN rows: only the new event counts
    assert(c2 === Map("dim_media" -> 2L, "fact_media_engagement" -> 1L))
    assert(RawZone.warehouse(spark, wh.fact).count() === 3L)
    assert(RawZone.warehouse(spark, wh.dimMedia).count() === 2L)

    // per-event grain: play_count null unless name='play' (A9)
    val fact = RawZone.warehouse(spark, wh.fact)
    assert(fact.filter(col("play_count").isNotNull).count() === 0L)
  }

  test("runIncrementalLogged: per-stage run history on the §3.2 lifecycle incl. a failed stage") {
    val dir = Files.createTempDirectory("pipeline_inclog").toString
    val wh = Pipeline.Warehouse(s"$dir/wh")
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    writeRaw(s"$dir/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5)))
    // every runIncremental is logged: no separate logged variant
    val written = Pipeline.runIncremental(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0)
    assert(written === Map("dim_media" -> 2L, "fact_media_engagement" -> 2L))
    val log1 = graft.sources.RunLog.read(spark, s"${wh.root}/run_log")
    assert(log1.filter(col("pipeline") === "runIncremental").count() === 2L)
    assert(log1.filter(col("status") =!= "ok").count() === 0L)
    assert(log1.select("stage", "rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === written)

    // second activation logs per-RUN rows: only the new event counts
    writeRaw(s"$dir/raw", "20250502_000000", Seq(
      eventJson("e3", "v2", "abc", "2024-03-01T10:00:25Z", 0.6)))
    val w2 = Pipeline.runIncremental(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0)
    assert(w2("fact_media_engagement") === 1L)
    assert(graft.sources.RunLog.read(spark, s"${wh.root}/run_log")
      .count() === 4L)

    // failing run: fact path blocked by a regular FILE — the log carries
    // dim=ok + fact=failed before the original error propagates
    val dir2 = Files.createTempDirectory("pipeline_inclogfail").toString
    val wh2 = Pipeline.Warehouse(s"$dir2/wh")
    writeRaw(s"$dir2/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2)))
    Files.createDirectories(java.nio.file.Paths.get(wh2.root))
    Files.createFile(java.nio.file.Paths.get(wh2.fact))
    intercept[Exception] {
      Pipeline.runIncremental(spark, s"$dir2/raw", wh2, Seq("abc"), ts0)
    }
    val log2 = graft.sources.RunLog.read(spark, s"${wh2.root}/run_log")
      .select("stage", "status", "rows").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(log2("dim_media") === (("ok", 1L)))
    assert(log2("fact_media_engagement")._1 === "failed")
    assert(log2("fact_media_engagement")._2 === -1L)
  }

  test("every lifecycle leaves only ok run-log rows carrying the rows it wrote") {
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    val events = Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5),
      eventJson("e3", "v2", "xyz", "2024-03-02T09:00:00Z", 0.0))
    val targets = Seq("abc", "xyz")
    // a streaming lifecycle's one trigger processes every event; its
    // gates check 2 dim and 2 fact expectations
    def streamed(q: org.apache.spark.sql.streaming.StreamingQuery,
        gates: Map[String, Long]): Map[String, Long] = {
      assert(q.awaitTermination(60000))
      gates + ("fact_trigger_0" -> events.size.toLong)
    }
    // (lifecycle, run over <dir>/raw into <dir>/wh → the per-stage rows
    // its run-log rows must carry)
    val cases: Seq[(String, String => Map[String, Long])] = Seq(
      "runBatch" -> (d => Pipeline.runBatch(spark, s"$d/raw",
        Pipeline.Warehouse(s"$d/wh"), targets, ts0, scaleDivisor = 1.0)),
      "runBatchIdempotent" -> (d => Pipeline.runBatchIdempotent(spark,
        s"$d/raw", Pipeline.Warehouse(s"$d/wh"), targets, ts0, scaleDivisor = 1.0)),
      "runBatchGated" -> (d => Pipeline.runBatchGated(spark, s"$d/raw",
        Pipeline.Warehouse(s"$d/wh"), targets, ts0, scaleDivisor = 1.0)),
      "runIncremental" -> (d => Pipeline.runIncremental(spark, s"$d/raw",
        Pipeline.Warehouse(s"$d/wh"), targets, ts0)),
      "runStreaming" -> (d => streamed(Pipeline.runStreaming(spark, s"$d/raw",
        Pipeline.Warehouse(s"$d/wh"), targets, ts0, s"$d/ckpt"), Map.empty)),
      "runStreamingGated" -> (d => streamed(Pipeline.runStreamingGated(spark,
        s"$d/raw", Pipeline.Warehouse(s"$d/wh"), targets, ts0, s"$d/ckpt"),
        Map("dq_gate_dim" -> 2L, "dq_gate_trigger_0" -> 2L))))
    for ((name, run) <- cases) {
      val dir = Files.createTempDirectory(s"pipeline_logged_$name").toString
      writeRaw(s"$dir/raw", "20250501_000000", events)
      val want = run(dir)
      val log = graft.sources.RunLog.read(spark, s"$dir/wh/run_log").collect()
      assert(log.forall(_.getAs[String]("pipeline") == name), name)
      assert(log.forall(_.getAs[String]("status") == "ok"), name)
      assert(log.map(r => r.getAs[String]("stage") -> r.getAs[Long]("rows"))
        .toMap === want, name)
      assert(log.length === want.size, name)
    }
  }

  test("runBatchGated: each planted violation kind blocks the load and is named in the run log") {
    import graft.sources.RunLog
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    val dupMedia = mediaJson :+ mediaJson.head // "abc" twice
    val negMedia = mediaJson.map(_.replace("\"duration\": 50.0", "\"duration\": -50.0"))
    // (label, media payload, events, expected failing expectation)
    val cases = Seq(
      ("dup", dupMedia,
        Seq(eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2)),
        "dim_media.dup_media_id=1"),
      ("negdur", negMedia,
        Seq(eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2)),
        "dim_media.negative_duration=1"),
      ("pct", mediaJson,
        Seq(eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 1.5)),
        "fact.percent_range=1"),
      ("orphan", mediaJson,
        Seq(eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
          eventJson("e2", "v2", "ghost", "2024-03-01T10:00:00Z", 0.3)),
        "fact.orphan_media=1"))
    for ((label, media, events, want) <- cases) {
      import spark.implicits._
      val dir = Files.createTempDirectory(s"pipeline_gate_$label").toString
      val wh = Pipeline.Warehouse(s"$dir/wh")
      RawZone.writeRun(spark.read.schema(Schemas.rawMedia)
        .json(media.toDS), s"$dir/raw", "media", "20250501_000000")
      RawZone.writeRun(spark.read.schema(Schemas.rawEvent)
        .json(events.toDS), s"$dir/raw", "events", "20250501_000000")
      val e = intercept[IllegalStateException] {
        Pipeline.runBatchGated(spark, s"$dir/raw", wh,
          Seq("abc", "xyz"), ts0, scaleDivisor = 1.0)
      }
      assert(e.getMessage.contains(want), label)
      // NOTHING landed — no star table exists, only the gate's log row
      for (p <- Seq(wh.dimMedia, wh.dimVisitor, wh.fact))
        assert(!Files.exists(java.nio.file.Paths.get(p)), s"$label: $p")
      val log = RunLog.read(spark, s"${wh.root}/run_log").collect()
      assert(log.length === 1, label)
      assert(log(0).getAs[String]("stage") === "dq_gate", label)
      assert(log(0).getAs[String]("status") === "failed", label)
      assert(log(0).getAs[String]("error").contains(want), label)
    }
  }

  test("runStreamingGated: a clean trigger lands; a poisoned trigger dies UNCOMMITTED and replays after the fix") {
    import graft.sources.RunLog
    val dir = Files.createTempDirectory("pipeline_sgate").toString
    val wh = Pipeline.Warehouse(s"$dir/wh")
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    // trigger 1: clean
    writeRaw(s"$dir/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5)))
    val q1 = Pipeline.runStreamingGated(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, s"$dir/ckpt")
    q1.awaitTermination(60000)
    assert(RawZone.warehouse(spark, wh.fact).count() === 2L)
    // trigger 2: one event out of percent domain — the whole trigger is
    // rejected, the stream dies, NOTHING of it lands
    import spark.implicits._
    RawZone.writeRun(spark.read.schema(Schemas.rawEvent).json(Seq(
      eventJson("e3", "v2", "xyz", "2024-03-02T09:00:00Z", 1.5),
      eventJson("e4", "v2", "abc", "2024-03-02T09:01:00Z", 0.4)).toDS),
      s"$dir/raw", "events", "20250502_000000")
    val q2 = Pipeline.runStreamingGated(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, s"$dir/ckpt")
    intercept[Exception] { q2.awaitTermination(60000); q2.stop() }
    assert(RawZone.warehouse(spark, wh.fact).count() === 2L) // unchanged
    val failed = RunLog.read(spark, s"${wh.root}/run_log")
      .filter(col("status") === "failed").collect()
    assert(failed.length === 1)
    assert(failed(0).getAs[String]("stage").startsWith("dq_gate_trigger_"))
    assert(failed(0).getAs[String]("error").contains("fact.percent_range=1"))
    // the documented recovery playbook (Pipeline.runStreamingGated
    // scaladoc): REMOVE the whole poisoned run and REPUBLISH the
    // corrected data as a NEW run — the planned-but-uncommitted batch
    // replays empty (its files are gone; exactly the rejected rows,
    // nothing else, ever existed in it) and the corrected run arrives
    // as the next trigger. Editing a planned run in place would be
    // lossy (the file source replays its recorded list, WARN-skipping
    // missing files) — which is why the playbook says republish.
    val runDir = new java.io.File(s"$dir/raw/events/run_ts=20250502_000000")
    runDir.listFiles().foreach(_.delete())
    RawZone.writeRun(spark.read.schema(Schemas.rawEvent).json(Seq(
      eventJson("e3", "v2", "xyz", "2024-03-02T09:00:00Z", 0.9),
      eventJson("e4", "v2", "abc", "2024-03-02T09:01:00Z", 0.4)).toDS),
      s"$dir/raw", "events", "20250503_000000")
    val q3 = Pipeline.runStreamingGated(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, s"$dir/ckpt")
    q3.awaitTermination(60000)
    assert(RawZone.warehouse(spark, wh.fact).count() === 4L)
    assert(RawZone.warehouse(spark, wh.fact)
      .filter(col("percent_viewed") > 1.0).count() === 0L)
    // the dim gate ran once per stream START (3 activations), not per
    // trigger — the dim is immutable for a query's lifetime
    val dimGates = RunLog.read(spark, s"${wh.root}/run_log")
      .filter(col("stage") === "dq_gate_dim").collect()
    assert(dimGates.length === 3)
    assert(dimGates.forall(_.getAs[String]("status") == "ok"))
  }

  test("runStreamingGated quarantine: the violating rows land dead-letter, the fact table still receives nothing") {
    import graft.sources.RunLog
    import spark.implicits._
    val dir = Files.createTempDirectory("pipeline_sgate_q").toString
    val wh = Pipeline.Warehouse(s"$dir/wh")
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    // one clean trigger first so the fact table exists with known rows
    writeRaw(s"$dir/raw", "20250501_000000", Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2)))
    val q1 = Pipeline.runStreamingGated(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, s"$dir/ckpt", quarantine = true)
    q1.awaitTermination(60000)
    assert(RawZone.warehouse(spark, wh.fact).count() === 1L)
    assert(!Files.exists(java.nio.file.Paths.get(wh.quarantine)),
      "a clean trigger must write nothing dead-letter")
    // poisoned trigger: one percent-domain violation AND one orphan —
    // BOTH capture, each named with its failed expectation; the clean
    // row of the same trigger is NOT quarantined (it is rejected with
    // the trigger, but it violated nothing)
    RawZone.writeRun(spark.read.schema(Schemas.rawEvent).json(Seq(
      eventJson("e2", "v2", "xyz", "2024-03-02T09:00:00Z", 1.5),
      eventJson("e3", "v3", "ghost", "2024-03-02T09:00:30Z", 0.3),
      eventJson("e4", "v2", "abc", "2024-03-02T09:01:00Z", 0.4)).toDS),
      s"$dir/raw", "events", "20250502_000000")
    val q2 = Pipeline.runStreamingGated(spark, s"$dir/raw", wh,
      Seq("abc", "xyz"), ts0, s"$dir/ckpt", quarantine = true)
    intercept[Exception] { q2.awaitTermination(60000); q2.stop() }
    // fail-stop unchanged: nothing of the trigger landed
    assert(RawZone.warehouse(spark, wh.fact).count() === 1L)
    // the dead-letter table holds exactly the two violating rows, each
    // with its failed expectation, batch id and run stamp
    val q = RawZone.warehouse(spark, wh.quarantine)
    assert(q.count() === 2L)
    val byCheck = q.select("failed_check", "visitor_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(byCheck === Set("percent_range" -> "v2", "orphan_media" -> "v3"))
    assert(q.select("batch_id").distinct().collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    assert(q.filter(col("quarantined_run_ts") === lit(ts0)).count() === 2L)
    // the run log carries both the quarantine write and the gate verdict
    val log = RunLog.read(spark, s"${wh.root}/run_log")
      .filter(col("stage").isin("quarantine_trigger_1", "dq_gate_trigger_1"))
      .select("stage", "status", "rows").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(log("quarantine_trigger_1") === (("ok", 2L)))
    assert(log("dq_gate_trigger_1")._1 === "failed")
  }

  test("every audited fact expectation has a quarantine capture — total by construction") {
    import spark.implicits._
    // the audit's names derive FROM factChecks and the quarantine looks
    // its capture up IN factChecks; this pins the subset relation so a
    // future expectation added to the audit cannot ship without a
    // capture (the r15 drift mode: quarantine silently degrading to a
    // logged best-effort failure)
    val dim = Seq(("abc", 10.0)).toDF("media_id", "duration")
    val fact = Seq(("abc", "v1", 0.5)).toDF("media_id", "visitor_id",
      "percent_viewed")
    val audited = Pipeline.factExpectations(dim, fact)
      .select("chk").collect().map(_.getString(0)).toSet
    val captured = Pipeline.factChecks.map(_.name).toSet
    assert(audited === captured,
      s"audited=$audited captured=$captured — factExpectations and the " +
        "quarantine capture must share the factChecks definition")
    // and each capture evaluates against representative frames (a
    // capture that only type-checks is not a capture)
    Pipeline.factChecks.foreach { c =>
      assert(c.capture(dim, fact).columns.nonEmpty, c.name)
    }
  }

  test("runStreamingGated: a poisoned DIM rejects at startup, before any trigger") {
    import graft.sources.RunLog
    import spark.implicits._
    val dir = Files.createTempDirectory("pipeline_sgate_dim").toString
    val wh = Pipeline.Warehouse(s"$dir/wh")
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    val negMedia = mediaJson.map(_.replace("\"duration\": 50.0", "\"duration\": -50.0"))
    RawZone.writeRun(spark.read.schema(Schemas.rawMedia)
      .json(negMedia.toDS), s"$dir/raw", "media", "20250501_000000")
    RawZone.writeRun(spark.read.schema(Schemas.rawEvent).json(Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2)).toDS),
      s"$dir/raw", "events", "20250501_000000")
    val e = intercept[IllegalStateException] {
      Pipeline.runStreamingGated(spark, s"$dir/raw", wh,
        Seq("abc", "xyz"), ts0, s"$dir/ckpt")
    }
    assert(e.getMessage.contains("dim_media.negative_duration=1"))
    assert(!Files.exists(java.nio.file.Paths.get(wh.fact)))
    val log = RunLog.read(spark, s"${wh.root}/run_log").collect()
    assert(log.length === 1)
    assert(log(0).getAs[String]("stage") === "dq_gate_dim")
    assert(log(0).getAs[String]("status") === "failed")
  }

  test("runBatchGated: a clean batch lands identically to runBatch") {
    val ts0 = Timestamp.valueOf("2025-05-01 00:00:00")
    val events = Seq(
      eventJson("e1", "v1", "abc", "2024-03-01T10:00:00Z", 0.2),
      eventJson("e2", "v1", "abc", "2024-03-01T10:00:20Z", 0.5),
      eventJson("e3", "v2", "xyz", "2024-03-02T09:00:00Z", 0.0))
    val dirG = Files.createTempDirectory("pipeline_gate_ok").toString
    val dirU = Files.createTempDirectory("pipeline_gate_ref").toString
    writeRaw(s"$dirG/raw", "20250501_000000", events)
    writeRaw(s"$dirU/raw", "20250501_000000", events)
    val whG = Pipeline.Warehouse(s"$dirG/wh")
    val whU = Pipeline.Warehouse(s"$dirU/wh")
    val gated = Pipeline.runBatchGated(spark, s"$dirG/raw", whG,
      Seq("abc", "xyz"), ts0, scaleDivisor = 1.0)
    val ungated = Pipeline.runBatch(spark, s"$dirU/raw", whU,
      Seq("abc", "xyz"), ts0, scaleDivisor = 1.0)
    assert(gated - "dq_gate" === ungated)
    assert(gated("dq_gate") === 4L) // all four expectations checked
    for ((g, u) <- Seq(whG.dimMedia -> whU.dimMedia,
        whG.dimVisitor -> whU.dimVisitor, whG.fact -> whU.fact))
      assert(RawZone.warehouse(spark, g).collect().map(_.toSeq).toSet
        === RawZone.warehouse(spark, u).collect().map(_.toSeq).toSet, g)
    val log = graft.sources.RunLog.read(spark, s"${whG.root}/run_log")
      .filter(col("pipeline") === "runBatchGated").collect()
    assert(log.length === 4)
    assert(log.count(r => r.getAs[String]("stage") == "dq_gate"
      && r.getAs[String]("status") == "ok") === 1)
    assert(log.forall(_.getAs[String]("status") == "ok"))
  }

  test("runRetention: one policy-driven nightly pass bounds all three storage layers over a multi-night loop, with one run-log trail") {
    import graft.sources.{Catalog, RunLog, Snapshots}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rawRoot = java.nio.file.Files.createTempDirectory("ret_raw").toString
    val storeRoot = java.nio.file.Files
      .createTempDirectory("ret_store").toString + "/s"
    val logPath = java.nio.file.Files
      .createTempDirectory("ret_log").toString + "/run_log"
    val db = "ret_ladder"
    Catalog.ensureDatabase(spark, db,
      Some(java.nio.file.Files.createTempDirectory("ret_wh").toString))
    val fact = s"$db.fact"
    Snapshots.writeTables(
      Seq("t" -> Seq((0L, "seed")).toDF("id", "v")), storeRoot)
    val policy = Pipeline.RetentionPolicy(
      rawRuns = Seq((rawRoot, "events", 2)),
      warehousePartitions = Nil, // cutoff varies per night — set below
      stores = Seq((storeRoot, 2, 1)))
    for (night <- 1 to 5) {
      val date = f"2024-03-$night%02d"
      val stamp = f"2024030$night%d_000000"
      RawZone.writeRun(parsedEvents(Seq(eventJson(s"e$night", "v1", "abc",
        s"${date}T10:00:00Z", 0.5))), rawRoot, "events", stamp)
      Catalog.append(Seq((date, night.toLong)).toDF("date", "v")
        .repartition(col("date")), fact, Seq("date"))
      val v0 = Snapshots.latestVersion(spark, storeRoot).get
      Snapshots.writeTablesSpec(spark, Seq("t" ->
        (Snapshots.Append(v0, Seq((night.toLong, s"n$night"))
          .toDF("id", "v")): Snapshots.TableSpec)), storeRoot)
      val cutoff = f"2024-03-${math.max(1, night - 1)}%02d"
      Pipeline.runRetention(spark,
        policy.copy(warehousePartitions = Seq((fact, "date", cutoff))),
        logPath)
      // every layer bounded EVERY night, not just at the end
      assert(new java.io.File(s"$rawRoot/events").listFiles()
        .count(_.getName.startsWith("run_ts=")) <= 2)
      assert(spark.sql(s"SHOW PARTITIONS $fact").count() <= 2)
      assert(Snapshots.versions(spark, storeRoot).size <= 2)
      assert(Snapshots.layerReport(spark, storeRoot).forall(_._2 <= 2))
    }
    // no rows lost above the cutoffs: the store resolves every append
    assert(Snapshots.readTable(spark, storeRoot, "t").count() === 6L)
    assert(spark.table(fact).select("v").collect().map(_.getLong(0)).toSet
      === Set(4L, 5L))
    val trail = RunLog.read(spark, logPath)
      .filter(col("pipeline") === "retention").collect()
    assert(trail.length === 15, "3 legs x 5 nights")
    assert(trail.forall(_.getAs[String]("status") == "ok"))
    assert(Set("prune_raw:events", s"drop_partitions:$fact",
      "maintain_store:s").subsetOf(
        trail.map(_.getAs[String]("stage")).toSet))
    // a failing leg is logged AND the pass keeps walking the ladder,
    // then fails loudly naming the failed stage
    RawZone.writeRun(parsedEvents(Seq(eventJson("ex", "v1", "abc",
      "2024-03-09T10:00:00Z", 0.5))), rawRoot, "events", "20240309_000000")
    val e = intercept[IllegalStateException] {
      Pipeline.runRetention(spark, Pipeline.RetentionPolicy(
        warehousePartitions = Seq((s"$db.nope", "date", "2024-03-01")),
        rawRuns = Seq((rawRoot, "events", 1))), logPath)
    }
    assert(e.getMessage.contains(s"drop_partitions:$db.nope"))
    val after = RunLog.read(spark, logPath)
      .filter(col("pipeline") === "retention").collect()
    assert(after.exists(r => r.getAs[String]("stage") == s"drop_partitions:$db.nope"
      && r.getAs[String]("status") == "failed"))
    // the raw leg still ran despite the warehouse leg failing
    assert(new java.io.File(s"$rawRoot/events").listFiles()
      .count(_.getName.startsWith("run_ts=")) === 1)
  }

  test("runRetention: the rawRunsHwm leg derives its cutoff from the fact HWM — a missing or lagging fact table blocks the batch lifecycle's prune") {
    import graft.sources.RunLog
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def utc(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val rawRoot = java.nio.file.Files.createTempDirectory("rethwm_raw").toString
    val factPath = java.nio.file.Files
      .createTempDirectory("rethwm_wh").toString + "/fact"
    val logPath = java.nio.file.Files
      .createTempDirectory("rethwm_log").toString + "/run_log"
    for ((ts, stamp) <- Seq(
        "2024-03-01T10:00:00Z" -> "20240301_100000",
        "2024-03-02T11:00:00Z" -> "20240302_110000",
        "2024-03-03T12:00:00Z" -> "20240303_120000"))
      RawZone.writeRun(parsedEvents(Seq(eventJson("e", "v1", "abc", ts, 0.5))),
        rawRoot, "events", stamp)
    val policy = Pipeline.RetentionPolicy(
      rawRunsHwm = Seq((rawRoot, "events", 1, factPath, Schemas.rawEvent)))
    def liveRuns() = new java.io.File(s"$rawRoot/events").listFiles()
      .count(_.getName.startsWith("run_ts="))
    // the fact table does not exist yet — the extreme lagging consumer:
    // the leg succeeds (logged ok) but reclaims nothing
    Pipeline.runRetention(spark, policy, logPath)
    assert(liveRuns() === 3)
    // the fact has landed run 1 only: run 2 stays blocked, keep floors run 3
    Seq(utc("2024-03-01T10:00:00Z")).toDF("event_timestamp")
      .write.mode("append").parquet(factPath)
    Pipeline.runRetention(spark, policy, logPath)
    assert(liveRuns() === 2)
    assert(new java.io.File(
      s"$rawRoot/events/run_ts=20240302_110000").exists())
    // the fact catches up past run 2: it reclaims; run 3 is the floor
    Seq(utc("2024-03-02T11:30:00Z")).toDF("event_timestamp")
      .write.mode("append").parquet(factPath)
    Pipeline.runRetention(spark, policy, logPath)
    assert(liveRuns() === 1)
    assert(RawZone.latestRun(spark, rawRoot, "events")
      .contains("20240303_120000"))
    val trail = RunLog.read(spark, logPath)
      .filter(col("stage") === "prune_raw_hwm:events").collect()
    assert(trail.length === 3 && trail.forall(_.getAs[String]("status") == "ok"))
    assert(trail.map(_.getAs[Long]("rows")).sorted.toSeq === Seq(0L, 1L, 1L))
  }

  private def parsedEvents(lines: Seq[String]) = {
    import spark.implicits._
    spark.read.schema(Schemas.rawEvent).json(lines.toDS)
  }
}
