package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Idempotent catalog DDL — the engine-shaped equivalent of the
  * reference's conflict-tolerant dataset/table bootstrap
  * (`create_bigquery_tables`, process_wistia_data_v2.py:88-128:
  * `exists_ok=True` on the dataset, "Already Exists" swallowed per
  * table). Every operation is safe to re-run; existing objects are never
  * altered or dropped.
  *
  * Scale: DDL is metadata-only against the session catalog (Hive
  * metastore / Unity / Glue on a real cluster); appends by table NAME
  * resolve columns case-insensitively and keep partition and bucket
  * specs, so the exchange-free bucketed-join property of
  * [[RawZone.warehouseBucketed]] stays reachable from the lifecycle.
  */
object Catalog {

  /** ≙ create_dataset(exists_ok=True). Optional explicit location (tests
    * point this at a temp dir; clusters use the metastore default).
    */
  def ensureDatabase(spark: SparkSession, db: String,
      location: Option[String] = None): Unit = {
    val loc = location.map(l => s" LOCATION '$l'").getOrElse("")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`$loc")
  }

  /** ≙ create_table swallowing "Already Exists": CREATE TABLE IF NOT
    * EXISTS with an explicit schema, optionally partitioned (fact
    * tables: by date — the reference's own schema comments,
    * process_wistia_data_v2.py:81-83).
    */
  def ensureTable(spark: SparkSession, table: String, schema: StructType,
      partitionBy: Seq[String] = Nil): Unit = {
    val part =
      if (partitionBy.nonEmpty) s" PARTITIONED BY (${partitionBy.mkString(", ")})"
      else ""
    spark.sql(s"CREATE TABLE IF NOT EXISTS $table (${schema.toDDL}) USING PARQUET$part")
  }

  /** K4 against the catalog: APPEND by table name (by-name column
    * resolution — never positional, so the catalog's
    * partition-columns-last reordering can't mis-slot values). Spark's
    * writer contract requires restating the partition spec of a
    * partitioned table.
    */
  def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Append).format("parquet")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).saveAsTable(table)
  }

  /** [[RawZone.warehouseMerge]] against the catalog: keyed
    * first-write-wins upsert-by-insert by table NAME — append only
    * incoming rows whose natural key is absent, so a re-run converges
    * (the idiomatic T3 fix for catalog-managed warehouses). Same scan
    * economics as the path version: the existing-keys read selects only
    * the key columns, and when the table's partition columns are a
    * subset of the key it is filtered to the batch's touched partitions
    * (metastore partition pruning). MERGE-with-update stays out of scope
    * deliberately — plain parquet tables have no transactional row
    * rewrite; first-write-wins insert is the strongest idempotency a
    * file-format warehouse offers without a table format like
    * Delta/Iceberg, and it is exactly what re-run convergence needs.
    */
  def mergeAppend(spark: SparkSession, df: DataFrame, table: String,
      keys: Seq[String], partitionBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "mergeAppend needs a natural key")
    val cols = df.columns.toSeq
    val deduped = df
      .groupBy(keys.map(col): _*)
      .agg(min(struct(cols.map(col): _*)).as("_row"))
      .select(col("_row.*"))
      .select(cols.map(col): _*)
    if (!spark.catalog.tableExists(table)) append(deduped, table, partitionBy)
    else {
      val existing = spark.table(table)
      val pruned =
        if (partitionBy.nonEmpty && partitionBy.forall(keys.contains)) {
          val touched = deduped.select(partitionBy.map(col): _*).distinct()
            .collect().toSeq // bounded: one row per touched partition
          if (touched.isEmpty) existing.limit(0)
          else existing.filter(
            touched.map(r => partitionBy.zipWithIndex.map {
              case (c, i) => col(c) === lit(r.get(i))
            }.reduce(_ && _)).reduce(_ || _))
        } else existing
      val fresh = deduped.join(
        pruned.select(keys.map(col): _*).distinct(), keys, "left_anti")
      append(fresh, table, partitionBy)
    }
  }

  /** Schema-EVOLVING append — the reference's warehouse loads evolve
    * table schemas as the upstream API grows fields (BigQuery
    * `autodetect` loads tolerate field addition; the raw zone here is
    * schema-on-read JSON for the same reason, RawZone.readJson). A plain
    * catalog parquet table is fixed-schema, so the lifecycle breaks in
    * BOTH directions the day the API adds a field: a batch carrying the
    * new column fails the append, and after a manual ALTER an old-shaped
    * replay batch fails by-name resolution. This closes both: new
    * top-level batch columns are added to the table first (`ALTER TABLE
    * ADD COLUMNS` — metadata-only; existing parquet files simply lack
    * the column and read as NULL under by-name reconciliation, no file
    * rewrite at any scale), and table columns absent from the batch are
    * null-filled at the table's type. Field ADDITION only, matching the
    * warehouse stance everywhere else in this file: a batch column whose
    * type conflicts with the table's is a pipeline bug and throws loudly
    * (silent casts would corrupt downstream exact-integer semantics),
    * and partition columns can never be added after the fact.
    */
  def appendEvolving(spark: SparkSession, df: DataFrame, table: String,
      partitionBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    if (!spark.catalog.tableExists(table)) {
      append(df, table, partitionBy)
      return
    }
    def norm(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val tableFields = spark.table(table).schema.map(f => norm(f.name) -> f).toMap
    val conflicts = df.schema.flatMap { f =>
      tableFields.get(norm(f.name)).collect {
        case tf if tf.dataType != f.dataType =>
          s"${f.name} (batch ${f.dataType.simpleString}, table ${tf.dataType.simpleString})"
      }
    }
    require(conflicts.isEmpty,
      s"appendEvolving: type conflicts, not field addition — ${conflicts.mkString("; ")}")
    val added = df.schema.filter(f => !tableFields.contains(norm(f.name)))
    require(!added.exists(f => partitionBy.exists(p => norm(p) == norm(f.name))),
      "appendEvolving: cannot introduce a partition column on an existing table")
    // added columns are nullable by construction — every pre-evolution
    // row reads NULL for them (v1 ALTER also rejects NOT NULL here)
    if (added.nonEmpty)
      spark.sql(s"ALTER TABLE $table ADD COLUMNS (${StructType(added.map(_.copy(nullable = true))).toDDL})")
    val target = spark.table(table).schema // post-ALTER shape
    val batchNames = df.schema.map(f => norm(f.name)).toSet
    val aligned = df.select(target.map { f =>
      if (batchNames.contains(norm(f.name))) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    append(aligned, table, partitionBy)
  }

  /** Latest-wins keyed UPSERT — the warehouse operator an upsert FEED
    * needs. pipe5 / streamingChunkAssembly re-emit each shard's open
    * chunk every run with more tokens packed; [[mergeAppend]]'s
    * first-write-wins contract would freeze the STALE open-chunk row,
    * so the materialized chunk table (and any fact fed by an upsert
    * stream) merges through this instead. Touched partitions are
    * rewritten in ONE dynamic-overwrite write: survivors (existing rows
    * whose key is absent from the batch) + the batch, repartitioned to
    * one file per touched partition, so nightly runs never accumulate
    * small files in the partitions they rewrite. Cost is O(touched
    * partitions); untouched partitions keep their files byte-for-byte.
    * MEASURED (ScaleProbe `prod:upsert` arm, last at commit 561c6b9;
    * warm, r15 with the commit lease): the same 2-partition batch into
    * a 64- vs 640-partition table runs 1.87 vs 1.37 s — flat in history.
    *
    * Requires `partitionBy ⊆ keys` so a key can never move across
    * partitions (pipe5's (shard, chunk_id) is stable by construction) —
    * which also keeps the survivor scan partition-pruned. Within-batch
    * key duplicates collapse to the struct-MAX row: feed one row per
    * key per batch (pipe5's grain), or rely on a monotone column right
    * after the keys (a growing open chunk's n_tokens) to make max =
    * latest.
    *
    * The no-concurrent-writers contract is ENFORCED (r15): the rewrite
    * runs under the table's [[CommitLock]] — a second writer fails
    * loudly naming the holder instead of silently interleaving two
    * partition overwrites, and a crashed holder's lease ages out under
    * the lock's grace. Re-entrant from [[Takedown.executeChunks]],
    * which holds the same lock across its whole flow.
    */
  def upsert(spark: SparkSession, df: DataFrame, table: String,
      keys: Seq[String], partitionBy: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "upsert needs a natural key")
    require(partitionBy.nonEmpty && partitionBy.forall(keys.contains),
      "upsert needs partition cols ⊆ keys — a key must not move across partitions")
    val cols = df.columns.toSeq
    val deduped = df
      .groupBy(keys.map(col): _*)
      .agg(max(struct(cols.map(col): _*)).as("_row"))
      .select(col("_row.*"))
      .select(cols.map(col): _*)
    if (!spark.catalog.tableExists(table)) {
      // the table has no location of its own to lock before it exists,
      // so creation races serialize on the DATABASE's lock with the
      // existence re-checked under it — two first writers cannot both
      // create-and-append. Only the METADATA-ONLY create happens under
      // the db lease (milliseconds — the lease even waits briefly, so
      // concurrent creators of DIFFERENT tables in one database pass
      // through rather than fail); the first batch then lands through
      // the normal table-locked merge below, where it is all-fresh.
      CommitLock.withLock(spark,
        CommitLock.databaseLocation(spark,
          CommitLock.databaseOf(spark, table)), waitRetries = 40) {
        if (!spark.catalog.tableExists(table))
          ensureTable(spark, table, deduped.schema, partitionBy)
      }
    }
    CommitLock.withTableLock(spark, table) {
      upsertPinned(spark, deduped, table, keys, partitionBy)
    }
  }

  private def upsertPinned(spark: SparkSession, deduped: DataFrame,
      table: String, keys: Seq[String], partitionBy: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val schema = spark.table(table).schema
    val tableCols = spark.table(table).columns.toSeq
    val touched = deduped.select(partitionBy.map(col): _*).distinct()
      .collect().toSeq // bounded: one row per touched partition
    if (touched.isEmpty) return
    val tpred = touched.map(r => partitionBy.zipWithIndex.map {
      case (c, i) => col(c) === lit(r.get(i)).cast(schema(c).dataType)
    }.reduce(_ && _)).reduce(_ || _)
    val survivors = spark.table(table).filter(tpred)
      .join(deduped.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .select(tableCols.map(col): _*)
    // localCheckpoint breaks lineage to the table being rewritten (the
    // compactPartitions discipline); pinned data is touched-partition-
    // sized, not table-sized
    val pinned = survivors.unionByName(deduped.select(tableCols.map(col): _*))
      .repartition(partitionBy.map(col): _*)
      .localCheckpoint()
    val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try pinned.write.mode(SaveMode.Overwrite).insertInto(table)
    finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      pinned.unpersist(blocking = false)
    }
  }

  /** Right-to-be-forgotten PURGE: physically delete every row whose key
    * matches `keysDf` (a frame of the key columns — e.g. the doc_ids of
    * a takedown request), rewriting ONLY the partitions that contain a
    * matching row. The operation a training-data warehouse cannot ship
    * without: compliance deletes arrive keyed by entity, not by
    * partition, so the partitions holding the entity are DISCOVERED
    * first by a column-pruned (key + partition cols only) semi-join scan
    * — one cheap columnar pass at any table size — then exactly those
    * partitions rewrite their survivors under dynamic partition
    * overwrite (upsert's discipline, one file per partition), and a
    * partition whose every row was doomed is DROPPED explicitly (dynamic
    * overwrite only replaces partitions PRESENT in the written data — an
    * all-doomed partition would otherwise silently keep its rows, the
    * classic purge hole). Untouched partitions keep their exact files
    * (PurgeSpec pins this). Returns the number of rows deleted.
    * MEASURED (ScaleProbe `prod:purge` arm, last at commit 561c6b9;
    * warm, r15 with the IN-form touched filter
    * AND the commit lease): the same 500-key takedown against a 64- vs
    * 640-partition table runs 1.97 vs 2.58 s — sub-linear in history
    * (the linear term is the 2-column discovery scan; the rewrite is
    * the fixed 2 touched partitions; the r14 lock-free form measured
    * 1.75/2.35 s — the lease costs ~0.2 s of metadata ops per commit —
    * and the r13 OR-of-ANDs filter 2.42/4.23 s on the same harness).
    *
    * The downstream half of a takedown is the snapshot layer: derived
    * artifacts (RAG index, manifests) REPUBLISH without the purged docs
    * via [[Snapshots]] and the old versions age out under `vacuum` —
    * RagStoreSpec demonstrates exactly that delete-and-republish, with
    * `diffTable` naming the purged doc's chunks as the audit trail.
    *
    * CONCURRENCY CONTRACT — ENFORCED since r15 (takedowns get wired
    * into schedules next to nightly loads): the discover-pin-rewrite
    * sequence runs under the table's [[CommitLock]], the same advisory
    * lease [[upsert]] takes, so a purge racing an upsert of the same
    * table fails loudly naming the holder instead of silently
    * interleaving two partition overwrites (rows another writer lands
    * between the pin and the overwrite would be replaced). The lock is
    * advisory writer-vs-writer serialization, not snapshot isolation —
    * that needs a table format (Iceberg/Delta), out of scope by the
    * public-Spark-only rule; [[compactPartitions]] keeps its
    * documented quiesce-the-writers contract.
    */
  def purgeKeys(spark: SparkSession, table: String,
      keysDf: DataFrame, partitionBy: Seq[String]): Long = {
    import org.apache.spark.sql.functions._
    val keyCols = keysDf.columns.toSeq
    require(keyCols.nonEmpty, "purgeKeys needs at least one key column")
    require(partitionBy.nonEmpty, "purgeKeys is for partitioned tables")
    val schema = spark.table(table).schema
    val tableCols = spark.table(table).columns.toSeq
    require(keyCols.forall(tableCols.contains),
      s"key columns ${keyCols.mkString(",")} must exist in $table")
    // the purge list is request-sized — pin it once, it drives three joins
    val keys = keysDf.distinct().localCheckpoint()
    // the whole discover-pin-rewrite sequence runs under the table's
    // commit lock (upsert's discipline): rows another writer lands
    // between the pin and the overwrite would be silently replaced
    try CommitLock.withTableLock(spark, table) {
      purgeKeysPinned(spark, table, keys, keyCols, partitionBy, schema,
        tableCols)
    } finally keys.unpersist(blocking = false)
  }

  private def purgeKeysPinned(spark: SparkSession, table: String,
      keys: DataFrame, keyCols: Seq[String], partitionBy: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      tableCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions._
    val touched = spark.table(table)
      .join(keys, keyCols, "left_semi")
      .select(partitionBy.map(col): _*).distinct()
      .collect().toSeq // bounded: one row per touched partition
    if (touched.isEmpty) return 0L
    // Touched-partition restriction, null-SAFE: a doomed row in the NULL
    // partition (__HIVE_DEFAULT_PARTITION__) must be found by the
    // rewrite — a plain === never matches null and the row would
    // silently survive the purge. A takedown can touch MANY partitions
    // (keys spread over time-partitioned history), so the filter must
    // not be an OR-of-ANDs literal disjunction (one disjunct per
    // partition ⇒ a huge Catalyst tree, slow analysis, weak pruning):
    // one partition column uses isin on the collected values (+ isNull
    // when the NULL partition is touched) — a single pushable IN — and
    // composite specs semi-join the broadcast touched-partition frame
    // on null-safe equality.
    // per-column prefilter: a statically prunable IN per partition
    // column (the partition pruner evaluates it against the listing —
    // a semi-join alone cannot prune). For one column it IS exact; for
    // composite specs it admits the cross product of touched values, so
    // the exact null-safe semi-join below re-restricts to the touched
    // TUPLES — pruning from the literals, exactness from the join.
    def colPred(c: String, i: Int): org.apache.spark.sql.Column = {
      val vals = touched.map(_.get(i)).distinct
      val nonNull = vals.filter(_ != null)
      val p0 =
        if (nonNull.isEmpty) lit(false)
        else col(c).isin(nonNull: _*)
      if (vals.contains(null)) p0 || col(c).isNull else p0
    }
    val prefiltered = spark.table(table).filter(
      partitionBy.zipWithIndex.map((colPred _).tupled).reduce(_ && _))
    val part =
      if (partitionBy.size == 1) prefiltered // the IN is already exact
      else {
        val tdf = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(touched).asJava),
          // staging schema normalized nullable: the touched list can
          // carry the NULL (__HIVE_DEFAULT_PARTITION__) partition even
          // when the column is declared non-nullable, and createDataFrame
          // validates rows against THIS schema — a verbatim copy would
          // abort the purge mid-flight on the null tuple
          StructType(partitionBy.map(c => schema(c).copy(nullable = true)).toArray))
          .toDF(partitionBy.map(c => s"_t_$c"): _*)
        prefiltered.join(broadcast(tdf),
          partitionBy.map(c => col(c) <=> col(s"_t_$c")).reduce(_ && _),
          "left_semi")
      }
    val doomed = part.join(keys, keyCols, "left_semi").count()
    val survivors = part.join(keys, keyCols, "left_anti")
      .select(tableCols.map(col): _*)
      .repartition(partitionBy.map(col): _*)
      .localCheckpoint() // breaks lineage to the table being rewritten
    try {
      // partitions with zero survivors vanish from the written data, so
      // dynamic overwrite cannot clear them — drop them explicitly
      val alive = survivors.select(partitionBy.map(col): _*).distinct()
        .collect().map(_.toSeq).toSet
      val emptied = touched.filterNot(r =>
        alive.contains(partitionBy.indices.map(r.get).toSeq))
      if (survivors.isEmpty) ()
      else {
        val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try survivors.write.mode(SaveMode.Overwrite).insertInto(table)
        finally saved match {
          case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
      emptied.foreach { r =>
        // partition values render as quoted SQL literals: escape embedded
        // quotes (an unescaped "o'brien" would abort the purge AFTER the
        // survivor rewrite), and a NULL value names the Hive default
        // partition explicitly
        val spec = partitionBy.zipWithIndex.map { case (c, i) =>
          val v = r.get(i)
          val lit0 =
            if (v == null) "'__HIVE_DEFAULT_PARTITION__'"
            else s"'${v.toString.replace("'", "''")}'"
          s"$c = $lit0"
        }.mkString(", ")
        spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($spec)")
      }
    } finally survivors.unpersist(blocking = false)
    doomed
  }

  /** TIME-PARTITION RETENTION — drop every partition of a
    * single-column partitioned table whose value sorts below `cutoff`:
    * the warehouse-layer retention op a date-partitioned fact table
    * needs (the raw layer has [[RawZone.pruneRuns]], the snapshot
    * layer [[Snapshots.vacuum]] — the catalog layer had none, and a
    * 100 TB fact table without partition retention only ever grows).
    * The comparison is LEXICOGRAPHIC on the partition's string value —
    * chronological for this layout's conventions (ISO `yyyy-MM-dd`
    * dates, zero-padded run stamps), and the caller owes that property
    * for anything else. The NULL (`__HIVE_DEFAULT_PARTITION__`)
    * partition is never dropped — it is not "old", it is unattributed.
    * Runs under the table's [[CommitLock]] (a retention sweep racing a
    * takedown's touched-partition rewrite must serialize, same as
    * every other rewriter). Managed tables reclaim the partition's
    * data files with the metadata (this layout's tables are managed —
    * [[ensureTable]] writes no LOCATION). Returns the dropped values.
    * Scale: one SHOW PARTITIONS + one metadata DROP per dropped
    * partition — never a table scan.
    */
  def dropPartitionsBelow(spark: SparkSession, table: String,
      partitionCol: String, cutoff: String): Seq[String] =
    CommitLock.withTableLock(spark, table) {
      val parts = spark.sql(s"SHOW PARTITIONS $table")
        .collect().map(_.getString(0)).toSeq
      val prefix = s"$partitionCol="
      require(parts.forall(p => p.startsWith(prefix) && !p.contains("/")),
        s"dropPartitionsBelow needs $table partitioned by exactly ($partitionCol); " +
          s"got spec(s) like ${parts.headOption.getOrElse("<none>")}")
      // SHOW PARTITIONS escapes special characters in values with
      // Hive's path escaping (%XX sequences ONLY — a literal '+' is
      // never escaped and must survive). java.net.URLDecoder is NOT
      // the inverse: it also maps '+' to ' ', so a value containing
      // '+' would compare against the wrong string and the DROP
      // literal would name a nonexistent partition (DROP IF EXISTS
      // silently no-ops while the value is reported dropped). Expand
      // only well-formed %XX here, Hive FileUtils.unescapePathName
      // semantics.
      val doomed = parts.map(p =>
          unescapePathName(p.stripPrefix(prefix)))
        .filter(v => v != "__HIVE_DEFAULT_PARTITION__" && v < cutoff)
        .sorted
      doomed.foreach { v =>
        val lit0 = s"'${v.replace("'", "''")}'"
        spark.sql(
          s"ALTER TABLE $table DROP IF EXISTS PARTITION ($partitionCol = $lit0)")
      }
      doomed
    }

  /** Inverse of Hive's partition-path escaping: expand well-formed
    * `%XX` hex sequences to their character, leave EVERYTHING else —
    * including `+`, which Hive never escapes — intact (semantics
    * `java.net.URLDecoder` does NOT share). Delegates to the exact
    * decoder Spark's own catalog uses to build those paths
    * (`ExternalCatalogUtils.unescapePathName`, Hive
    * `FileUtils.unescapePathName` semantics), so the round trip can
    * never drift from what SHOW PARTITIONS actually emits; the '+' and
    * malformed-%-run cases stay pinned in PurgeSpec.
    */
  private[sources] def unescapePathName(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(s)

  /** K5 against the catalog: TRUNCATE + reload (the prod variant's
    * dim_media refresh policy, process_wistia_data.py:197-234) — the
    * table object, its schema, and its grants survive, unlike a
    * drop-and-recreate overwrite.
    */
  def truncateReload(spark: SparkSession, df: DataFrame, table: String): Unit = {
    spark.sql(s"TRUNCATE TABLE $table")
    append(df, table)
  }

  /** One compacted partition: before/after parquet file counts. */
  case class CompactionResult(partition: Map[String, String],
      filesBefore: Int, filesAfter: Int)

  /** Small-files maintenance for a partitioned warehouse table — the
    * pass every incrementally-appended (T3) or streaming-fed (T5) fact
    * table needs: each micro-batch/run appends its own small parquet
    * files, and scan cost degrades with file count, not bytes. Each
    * partition holding more than `maxFiles` files is rewritten into
    * `ceil(bytes / targetBytes)` files via DYNAMIC partition overwrite
    * (`insertInto` under partitionOverwriteMode=dynamic), which replaces
    * ONLY the rewritten partitions — untouched partitions keep their
    * exact files. Content-preserving by construction (a repartition of
    * the same rows); idempotent (a compacted partition no longer
    * exceeds `maxFiles`).
    *
    * Fragmented partitions are rewritten `batchSize` at a time in ONE
    * dynamic-overwrite write each — a table with hundreds of fragmented
    * partitions costs O(ceil(frag/batchSize)) Spark jobs, not O(frag).
    * Within a batch, each partition still lands in its own
    * `ceil(bytes/targetBytes)` output files: rows carry a per-partition
    * `_slot` in [0, n) and the pre-write shuffle keys on (partition
    * columns, _slot), so one write task emits one file per partition
    * value it holds.
    *
    * Partition specs from SHOW PARTITIONS are decoded, not
    * string-compared: `__HIVE_DEFAULT_PARTITION__` becomes an IS NULL
    * predicate (null partitions compact like any other), and literal
    * values are CAST to the partition column's declared type so typed
    * (non-string) partition columns match exactly. File sizes resolve
    * the filesystem PER PATH (`path.getFileSystem`), so a warehouse on
    * a non-default filesystem (s3a/hdfs vs local) lists correctly.
    *
    * Concurrency contract: readers racing a rewrite see each partition
    * atomically per Spark's committer contract for dynamic overwrite
    * (staged then moved) — but the pass must NOT run concurrently with
    * WRITERS appending to the same partitions: rows appended between
    * the survey/pin and the overwrite would be silently replaced by the
    * pinned snapshot. The pass holds the table's [[CommitLock]] (r15),
    * which serializes it against the OTHER rewriters (upsert,
    * purgeKeys, executeChunks) — but plain appends do not take the
    * lease, so ingestion must still be quiesced or scheduled around
    * compaction (full snapshot isolation needs a table format —
    * Iceberg/Delta — out of scope by the public-Spark-only rule).
    */
  def compactPartitions(spark: SparkSession, table: String,
      partitionBy: Seq[String], targetBytes: Long = 128L << 20,
      maxFiles: Int = 4, batchSize: Int = 64): Seq[CompactionResult] =
    CommitLock.withTableLock(spark, table) {
      compactPartitionsLocked(spark, table, partitionBy, targetBytes,
        maxFiles, batchSize)
    }

  private def compactPartitionsLocked(spark: SparkSession, table: String,
      partitionBy: Seq[String], targetBytes: Long,
      maxFiles: Int, batchSize: Int): Seq[CompactionResult] = {
    import org.apache.spark.sql.functions._
    require(partitionBy.nonEmpty, "compactPartitions needs a partitioned table")
    val hconf = spark.sparkContext.hadoopConfiguration
    val schema = spark.table(table).schema
    val tableCols = spark.table(table).columns.toSeq
    def pred(kvs: Map[String, String]): org.apache.spark.sql.Column =
      kvs.map { case (k, v) =>
        if (v == "__HIVE_DEFAULT_PARTITION__") col(k).isNull
        else col(k) === lit(v).cast(schema(k).dataType)
      }.reduce(_ && _)
    // survey pass: metadata-only (SHOW PARTITIONS + file-index listing)
    val parts = spark.sql(s"SHOW PARTITIONS $table").collect()
      .map(_.getString(0)) // e.g. "date=2025-05-12/country=US"
    val frag = parts.toSeq.flatMap { spec =>
      val kvs = spec.split('/').map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      val files = spark.table(table).filter(pred(kvs)).inputFiles
      if (files.length <= maxFiles) None
      else {
        val bytes = files.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(hconf).getFileStatus(p).getLen
        }.sum
        Some((kvs, files.length,
          math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)))
      }
    }
    val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      frag.grouped(batchSize).toSeq.flatMap { batch =>
        val orPred = batch.map(b => pred(b._1)).reduce(_ || _)
        // per-partition target file count as a CASE chain over the specs
        val slotN = batch.tail
          .foldLeft(when(pred(batch.head._1), lit(batch.head._3))) {
            case (acc, (kvs, _, n)) => acc.when(pred(kvs), lit(n))
          }.otherwise(lit(1))
        val sumN = batch.map(_._3).sum
        // localCheckpoint breaks lineage to the table being rewritten
        // (Spark rejects an overwrite whose plan reads the target);
        // pinned data is one batch of partitions — maintenance-sized
        val pinned = spark.table(table).filter(orPred)
          .withColumn("_slot",
            pmod(xxhash64(struct(tableCols.map(col): _*)), slotN))
          .repartition(sumN, (partitionBy :+ "_slot").map(col): _*)
          .select(tableCols.map(col): _*)
          .localCheckpoint()
        try pinned.write.mode(SaveMode.Overwrite).insertInto(table)
        finally pinned.unpersist(blocking = false)
        batch.map { case (kvs, before, _) =>
          CompactionResult(kvs, before,
            spark.table(table).filter(pred(kvs)).inputFiles.length)
        }
      }
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}
