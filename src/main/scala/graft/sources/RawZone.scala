package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Tri-layer lake IO (SURVEY §1.1 / §2.1): raw zone (run-partitioned
  * JSON), staging zone (Parquet), warehouse zone (managed tables).
  * Re-expresses the reference's file operators:
  *
  *  - S6 schema-enforced JSON scan (process_wistia_data_v2.py:170-186) →
  *    [[readJson]]: declared schema, PERMISSIVE mode + corrupt-record
  *    column ≈ the reference's warn-and-null error tolerance.
  *  - S7 latest-partition discovery (process_wistia_data_v2.py:192-237,
  *    regex over timestamped filenames) → [[latestRun]]/[[readLatestRun]]:
  *    run-partitioned directory layout (`run_ts=`) + max-partition filter,
  *    so planning prunes to one partition instead of listing-then-regex.
  *  - K1 raw JSON sink, timestamped per run (ingest_wistia.py:330-357) →
  *    [[writeRun]]: `raw/<entity>/run_ts=<ts>/` JSON.
  *  - K2/K3 staged JSONL sink (process_wistia_data_v2.py:536-556) →
  *    [[stage]]: Parquet instead of NDJSON (columnar, splittable — the
  *    idiomatic staging format; JSONL retained via [[stageJsonl]] for
  *    byte-faithful parity).
  *  - K4 warehouse bulk APPEND (process_wistia_data_v2.py:559-593) →
  *    [[warehouseAppend]]; K5 TRUNCATE refresh
  *    (process_wistia_data.py:197-234) → [[warehouseOverwrite]].
  *
  * Scale: run partitioning makes incremental reads partition-prunes, not
  * directory regex scans; fact tables are additionally partitioned by a
  * date column on append (the reference's own schema comments recommend
  * exactly this, process_wistia_data_v2.py:81-83). Nothing here touches
  * the driver except partition-name listing, which is O(#runs).
  */
object RawZone {

  final val RunColumn = "run_ts"

  /** Run-stamp format matching the reference's `%Y%m%d_%H%M%S` filenames
    * (ingest_wistia.py:318) — lexicographic order == chronological order,
    * which [[latestRun]] relies on.
    */
  def runStamp(ts: java.time.Instant = java.time.Instant.now()): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(ts)

  // ---------------------------------------------------------------- raw

  /** K1 — append one run's records under `root/entity/run_ts=<stamp>/`. */
  def writeRun(df: DataFrame, root: String, entity: String, stamp: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(s"$root/$entity/$RunColumn=$stamp")

  /** S6 — schema-enforced PERMISSIVE JSON read of the whole raw zone for
    * an entity; unparseable records land in `_corrupt_record` instead of
    * failing the scan (the reference warns-and-skips, :183-186).
    * `multiline = true` reads reference-style whole-array page files
    * (`json.dump` of a list) instead of NDJSON — note multiline files
    * are not splittable, so at scale one file = one task (the page size
    * bounds it, as in the reference's 100-row pages).
    */
  def readJson(spark: SparkSession, root: String, entity: String,
      schema: StructType, multiline: Boolean = false): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record", "string")
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("multiLine", multiline.toString)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("basePath", s"$root/$entity")
      .json(s"$root/$entity")
  }

  /** S7 — latest run stamp for an entity (partition listing via the
    * Hadoop FS API, so it works on HDFS/object stores too; O(#runs)
    * driver-side names only, never file contents). None if no runs exist.
    */
  def latestRun(spark: SparkSession, root: String, entity: String): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(s"$root/$entity")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else fs.listStatus(path).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$RunColumn="))
      .map(_.getPath.getName.stripPrefix(s"$RunColumn="))
      .maxOption
  }

  /** S7 — read only the latest run's records (partition-pruned scan). */
  def readLatestRun(spark: SparkSession, root: String, entity: String,
      schema: StructType): Option[DataFrame] =
    latestRun(spark, root, entity).map { stamp =>
      readJson(spark, root, entity, schema).filter(col(RunColumn) === stamp)
    }

  /** RAW-ZONE RUN RETENTION — delete every `run_ts=` directory of
    * `entity` older than the newest `keep`. The raw zone is the engine's
    * REPLAY source, so the contract is stated, not implied: prune only
    * runs the downstream has durably LANDED (the HWM / streaming
    * checkpoint has moved past them — exactly what [[latestRun]]'s
    * lexicographic-max stamp ordering makes checkable). A streaming
    * checkpoint that already recorded a pruned run's files replays it
    * EMPTY with a WARN (Spark's file source skips missing files) — the
    * same semantics the gated pipeline's poison-removal playbook
    * documents; a checkpoint that has NOT yet read a pruned run loses
    * its rows, which is why `keep` is a floor, not a schedule. Returns
    * the pruned stamps. Scale: one directory listing + one recursive
    * delete per pruned run — never a data read; the retention twin of
    * [[Snapshots.vacuum]] at the raw layer.
    */
  def pruneRuns(spark: SparkSession, root: String, entity: String,
      keep: Int): Seq[String] = {
    require(keep >= 1, "pruneRuns must keep at least the latest run")
    val dir = new org.apache.hadoop.fs.Path(s"$root/$entity")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Nil
    val runs = fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$RunColumn="))
      .map(_.getPath.getName.stripPrefix(s"$RunColumn=")).sorted
    val doomed = runs.dropRight(keep)
    doomed.foreach(s =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"$RunColumn=$s"), true))
    doomed
  }

  /** [[pruneRuns]] WITH ITS SAFETY CONTRACT PLUGGED IN — the prunable
    * set is DERIVED from the downstream streaming CHECKPOINT instead
    * of trusted to the caller's `keep`: a run directory is pruned only
    * when it is (a) older than the newest `keep` AND (b) LANDED — every
    * data file currently under it appears in the checkpoint's
    * COMMITTED file-source log (offsets written but not yet committed
    * do not count; the sink hasn't durably processed them). A lagging
    * consumer therefore BLOCKS the prune of the runs it has not read —
    * the replay source stays intact exactly as long as someone still
    * needs to replay it — while runs the checkpoint has durably moved
    * past reclaim on schedule. `keep` remains a floor (the latest
    * `keep` runs survive even when landed). Returns the pruned stamps.
    * Scale: metadata-only — one listing per candidate run plus one
    * sequential read of the checkpoint's request-small source log
    * (Spark compacts it every 10 batches); never a data read.
    */
  def pruneRunsLanded(spark: SparkSession, root: String, entity: String,
      keep: Int, checkpoint: String): Seq[String] = {
    require(keep >= 1, "pruneRunsLanded must keep at least the latest run")
    val dir = new org.apache.hadoop.fs.Path(s"$root/$entity")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Nil
    val landed = committedSourceFiles(spark, checkpoint)
    val runs = fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$RunColumn="))
      .map(_.getPath.getName.stripPrefix(s"$RunColumn=")).sorted
    val doomed = runs.dropRight(keep).filter { s =>
      fs.listStatus(new org.apache.hadoop.fs.Path(dir, s"$RunColumn=$s"))
        .toSeq.filter(_.isFile)
        .map(_.getPath.toUri.getPath)
        .filterNot(_.split('/').last.startsWith("_")) // markers, not data
        .forall(landed.contains)
    }
    doomed.foreach(s =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"$RunColumn=$s"), true))
    doomed
  }

  /** Every data-file path the file-streaming source under `checkpoint`
    * has DURABLY COMMITTED — the union of the source-log entries of
    * batches at or below the highest id in `commits/` (an offset
    * written ahead of its commit is in-flight, not landed). Paths are
    * normalized to their URI path (scheme/authority stripped) so they
    * compare with [[org.apache.hadoop.fs.FileStatus]] listings
    * regardless of `file:`/`hdfs:` prefixes. Handles the source log's
    * `.compact` rollups (each holds the full history to its id).
    * Empty when the checkpoint has no committed batch yet — then
    * NOTHING is landed and [[pruneRunsLanded]] prunes nothing.
    */
  private[sources] def committedSourceFiles(spark: SparkSession,
      checkpoint: String): Set[String] = {
    val cp = new org.apache.hadoop.fs.Path(checkpoint)
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = new org.apache.hadoop.fs.Path(cp, "commits")
    val sources = new org.apache.hadoop.fs.Path(cp, "sources")
    if (!fs.exists(commits) || !fs.exists(sources)) return Set.empty
    val committedMax = fs.listStatus(commits).toSeq
      .map(_.getPath.getName).filter(_.forall(_.isDigit)).map(_.toLong)
      .foldLeft(-1L)(math.max)
    if (committedMax < 0) return Set.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = scala.collection.mutable.Set[String]()
    for {
      src <- fs.listStatus(sources).toSeq if src.isDirectory
      log <- fs.listStatus(src.getPath).toSeq if log.isFile
      name = log.getPath.getName
      id = name.stripSuffix(".compact")
      if id.forall(_.isDigit) && id.toLong <= committedMax
    } {
      val in = fs.open(log.getPath)
      try
        scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filterNot(l => l.isEmpty || l.startsWith("v")) // version header
          .foreach { l =>
            val node = mapper.readTree(l)
            val p = node.get("path")
            if (p != null)
              out += new org.apache.hadoop.fs.Path(
                java.net.URI.create(p.asText())).toUri.getPath
          }
      finally in.close()
    }
    out.toSet
  }

  /** [[pruneRunsLanded]]'S TWIN FOR THE BATCH/INCREMENTAL LIFECYCLE —
    * the safe cutoff is DERIVED from the fact table's HIGH-WATER MARK
    * instead of a streaming checkpoint: a run directory is pruned only
    * when it is (a) older than the newest `keep` AND (b) every one of
    * its rows sits at-or-below `hwm` on `tsCol`. Under the
    * HWM-advancing lifecycle (`Pipeline.runIncremental`:
    * `since = hwm + 1s`, so everything ≤ hwm was either processed by
    * the activation that advanced the mark past it, or arrived late and
    * is permanently invisible to every future activation) such a run
    * can never be
    * read again — pruning it loses nothing replayable. The guard is
    * conservative in both directions: `hwm = None` (no fact rows yet)
    * prunes NOTHING — a fact table lagging its raw zone blocks the
    * prune exactly like a lagging checkpoint does — and a run whose
    * max `tsCol` is NULL (no parseable timestamp at all) is retained
    * for a human, not silently reclaimed. `keep` remains a floor.
    * Returns the pruned stamps.
    * Scale: one partition-pruned columnar pass over the CANDIDATE runs
    * only (older-than-keep), reading the single timestamp column, then
    * one directory delete per pruned run — the data read is bounded by
    * the runs already slated for deletion, never the retained history.
    */
  def pruneRunsHwm(spark: SparkSession, root: String, entity: String,
      keep: Int, hwm: Option[java.sql.Timestamp], schema: StructType,
      tsCol: String = "received_at"): Seq[String] = {
    require(keep >= 1, "pruneRunsHwm must keep at least the latest run")
    val dir = new org.apache.hadoop.fs.Path(s"$root/$entity")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Nil
    val runs = fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$RunColumn="))
      .map(_.getPath.getName.stripPrefix(s"$RunColumn=")).sorted
    val cands = runs.dropRight(keep)
    val mark = hwm.getOrElse(return Nil)
    if (cands.isEmpty) return Nil
    // the run column is cast through string (partition-type inference
    // reads an all-digit custom stamp as a number; the engine's own
    // yyyyMMdd_HHmmss stamps always stay strings). The rendered value
    // can STILL differ from the directory name for exotic
    // caller-chosen stamps (a timestamp-inferred stamp renders with a
    // space, a zero-padded number drops its padding) — which is why a
    // candidate missing from this map is NEVER trusted as empty below:
    // mismatch degrades to retention, not deletion.
    val maxes = readJson(spark, root, entity, schema)
      .filter(col(RunColumn).cast("string").isin(cands: _*))
      .groupBy(col(RunColumn).cast("string").as(RunColumn))
      .agg(max(col(tsCol)).as("mx"))
      .collect()
      .map(r => r.getString(0) -> Option(r.getTimestamp(1))).toMap
    // a candidate absent from `maxes` is prunable only when its
    // directory VERIFIABLY holds no data files (a truly empty run —
    // vacuous truth); a populated run that merely failed to round-trip
    // through the partition column (type-inference rendering drift) is
    // RETAINED — the replay source fails safe toward keeping data
    def dataFree(s: String): Boolean =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir, s"$RunColumn=$s"))
        .forall(st => !st.isFile || st.getPath.getName.startsWith("_"))
    val doomed = cands.filter(s => maxes.get(s) match {
      case Some(mx) => mx.exists(!_.after(mark))
      case None => dataFree(s)
    })
    doomed.foreach(s =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"$RunColumn=$s"), true))
    doomed
  }

  // ------------------------------------------------------------- staging

  /** K2/K3 — stage a transformed frame as Parquet (columnar staging). */
  def stage(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** K2-faithful NDJSON staging, for parity with the reference's
    * GCS JSONL blobs.
    */
  def stageJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  // ----------------------------------------------------------- warehouse

  /** K4 — bulk APPEND into a warehouse table (path-based here; on a real
    * cluster `saveAsTable` against the catalog). `partitionBy` non-empty
    * ⇒ partitioned layout (fact tables: by date).
    */
  def warehouseAppend(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** K5 — TRUNCATE-refresh a warehouse table (the prod variant's
    * dim_media policy, T4).
    */
  def warehouseOverwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** MERGE-equivalent idempotent keyed append — the idiomatic fix for the
    * reference's T3 re-run hole (process_wistia_data_v2.py:764-772 blindly
    * WRITE_APPENDs, so a retried batch duplicates every fact row; SURVEY
    * §2.7 documents the fix this method now implements). Semantics:
    * first-write-wins upsert-by-insert — incoming rows whose natural key
    * already exists in the table are dropped, so re-running the same
    * batch (or overlapping batches) converges to identical table
    * contents. Within-batch duplicates on the key are also collapsed
    * deterministically (min over the full row struct) so a single dirty
    * batch converges too.
    *
    * Scale: the existing-keys scan reads ONLY the key columns (column
    * pruning reaches the parquet footer) and — when the table is
    * partitioned and the partition columns are a subset of the key —
    * ONLY the partitions the incoming batch touches (the batch's
    * distinct partition values are a bounded driver-side list, like the
    * HWM scalar: a daily batch touches a handful of dates of a
    * years-deep table). The anti-join shuffles on the key with map-side
    * partial aggregation on the incoming side; at 100 TB the scan cost
    * is proportional to the touched partitions, not the table.
    */
  def warehouseMerge(spark: SparkSession, df: DataFrame, path: String,
      keys: Seq[String], partitionBy: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "warehouseMerge needs a natural key")
    // collapse within-batch key duplicates deterministically: min over
    // the full row struct (column order fixed by the frame's schema)
    val cols = df.columns.toSeq
    val deduped = df
      .groupBy(keys.map(col): _*)
      .agg(min(struct(cols.map(col): _*)).as("_row"))
      .select(col("_row.*"))
      .select(cols.map(col): _*)
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a directory with no data files (e.g. left by an empty first batch)
    // is "absent": reading it can't infer a schema
    val existingOpt =
      if (!fs.exists(fsPath)) None
      else try {
        val e = warehouse(spark, path); e.schema; Some(e)
      } catch { case _: org.apache.spark.sql.AnalysisException => None }
    if (existingOpt.isEmpty) warehouseAppend(deduped, path, partitionBy)
    else {
      // partition-prune the existing scan only when partition cols are
      // part of the key — otherwise a same-key row in an untouched
      // partition would be missed and duplicated
      val existing = existingOpt.get
      val pruned =
        if (partitionBy.nonEmpty && partitionBy.forall(keys.contains)) {
          val touched = deduped.select(partitionBy.map(col): _*).distinct()
            .collect().toSeq // bounded: one row per touched partition
          if (touched.isEmpty) existing.limit(0)
          else existing.filter( // OR of partition-col equalities → prunable
            touched.map(r => partitionBy.zipWithIndex.map {
              case (c, i) => col(c) === lit(r.get(i))
            }.reduce(_ && _)).reduce(_ || _))
        } else existing
      val fresh = deduped.join(
        pruned.select(keys.map(col): _*).distinct(), keys, "left_anti")
      warehouseAppend(fresh, path, partitionBy)
    }
  }

  /** Catalog-managed bucketed table: rows hash-partitioned into `buckets`
    * files by `bucketCols`, sorted within each bucket. Joins/aggregations
    * between tables bucketed the same way on the same keys need NO
    * shuffle — the 100 TB co-location strategy for the fact⋈fact and
    * fact⋈bigdim joins that broadcast can't cover (RawZoneSpec asserts
    * the exchange-free plan).
    */
  def warehouseBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int = 8): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Read a warehouse table back. */
  def warehouse(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
