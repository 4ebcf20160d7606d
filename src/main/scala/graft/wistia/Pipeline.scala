package graft.wistia

import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.StructType
import graft.sources.{Catalog, RawZone, RunLog, Snapshots}

/** End-to-end pipeline lifecycles of the reference, as single callables
  * over the tri-layer lake (SURVEY §3):
  *
  *  - [[runBatch]] ≙ `process_wistia_data_v2.py.__main__` (§3.1): HWM →
  *    read raw (latest run) → dims + grouped fact with watch-time →
  *    warehouse APPEND (dims and fact — the reference's accumulate-dups
  *    policy, T3/T4 faithful mode).
  *  - [[runIncremental]] ≙ `process_wistia_data.py.main()` (§3.2): HWM+1s
  *    source filter → passthrough dim_media (TRUNCATE refresh) →
  *    per-event fact APPEND.
  *
  * Every lifecycle keeps run history, the job log the reference gets
  * from its managed stack: each stage writes through
  * [[graft.sources.RunLog.observedWrite]] (rows counted on the write
  * action itself — no post-write re-scan) and lands one row in
  * `<root>/run_log`, including the stages of a run that FAILS partway
  * (status=failed, rows -1, logged before the error propagates). Batch
  * lifecycles return rows written this run per stage — the numbers
  * their log rows carry; the tables hold the running history.
  *
  * The REST-ingestion boundary (S1–S3) is out of scope offline; callers
  * land API payloads in the raw zone (`RawZone.writeRun`) and these
  * lifecycles take over — identical to the reference's split between
  * `ingest_wistia.py` and the process scripts.
  *
  * Scale: one lazily-planned DAG per table; the fact write partitions by
  * date so each run only touches the dates it saw. On a cluster the
  * warehouse paths are catalog tables; the HWM query is a metadata-cheap
  * max over the partition-pruned fact.
  */
object Pipeline {

  /** Warehouse layout under a root path. */
  case class Warehouse(root: String) {
    val dimMedia = s"$root/dim_media"
    val dimVisitor = s"$root/dim_visitor"
    val fact = s"$root/fact_media_engagement"
    /** Opt-in dead-letter table for [[runStreamingGated]]'s rejected
      * triggers: the violating rows + the expectation each failed,
      * append-only and run-stamped. Never read by the lifecycle.
      */
    val quarantine = s"$root/quarantine"
  }

  private def runLogOf(root: String): String = s"$root/run_log"

  /** Historical-backfill start when the fact table is empty/absent
    * (reference process_wistia_data_v2.py:619).
    */
  val historicalStart: java.sql.Timestamp =
    java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  /** T1: current HWM, or the historical start on first run (the
    * reference's null/error → backfill fallback, :614-619; the max query
    * evaluates lazily, so the whole read+collect is inside the recovery).
    */
  def effectiveSince(spark: SparkSession, wh: Warehouse): java.sql.Timestamp =
    try Transforms.highWaterMark(RawZone.warehouse(spark, wh.fact))
      .getOrElse(historicalStart)
    catch { case _: Exception => historicalStart }

  /** Natural keys of the star tables (the fact grain is the reference's
    * own GROUP BY, process_wistia_data_v2.py:446-452; dims key on their
    * entity id). Used by [[runBatchIdempotent]]'s merge writes.
    */
  val factKey: Seq[String] = Seq("media_id", "visitor_id", "date")
  val dimMediaKey: Seq[String] = Seq("media_id")
  val dimVisitorKey: Seq[String] = Seq("visitor_id")

  /** Per-event identity the streaming merge sink keys on. date ⊆ key
    * (derived from event_timestamp) so the merge's existing-keys scan
    * partition-prunes to the batch's dates.
    */
  private val eventKey = Seq("media_id", "visitor_id", "date", "event_timestamp")

  // ------------------------------------------------------------ staging

  private def latestRun(spark: SparkSession, rawRoot: String, entity: String,
      schema: StructType): DataFrame =
    RawZone.readLatestRun(spark, rawRoot, entity, schema).getOrElse(
      throw new IllegalStateException(s"no raw runs under $rawRoot/$entity"))

  /** dim_media of the LATEST media run — the reference fetches current
    * metadata each activation; duplicated raw history would fan out the
    * duration join.
    */
  private def stagedDimMedia(spark: SparkSession, rawRoot: String,
      targetHashedIds: Seq[String], ingestionTs: java.sql.Timestamp): DataFrame =
    Transforms.dimMedia(latestRun(spark, rawRoot, "media", Schemas.rawMedia),
      targetHashedIds, ingestionTs)

  private def durations(dimMedia: DataFrame): DataFrame =
    dimMedia.select(col("media_id"), col("duration"))

  private final case class Star(dimMedia: DataFrame, dimVisitor: DataFrame,
      fact: DataFrame)

  /** The §3.1 star of the latest raw run: both dims and the grouped fact
    * with watch-time. `pin` localCheckpoints dim_media BEFORE the fact
    * joins it, and the fact, so a gate's audit actions and the writes
    * share one computation of the transforms.
    */
  private def stageStar(spark: SparkSession, rawRoot: String,
      targetHashedIds: Seq[String], ingestionTs: java.sql.Timestamp,
      scaleDivisor: Double, pin: Boolean = false): Star = {
    def pinned(df: DataFrame) = if (pin) df.localCheckpoint() else df
    val dimMedia = pinned(stagedDimMedia(spark, rawRoot, targetHashedIds, ingestionTs))
    val rawEvents = latestRun(spark, rawRoot, "events", Schemas.rawEvent)
    Star(dimMedia, Transforms.dimVisitor(rawEvents, ingestionTs),
      pinned(Transforms.factMediaEngagement(rawEvents, durations(dimMedia),
        ingestionTs, scaleDivisor)))
  }

  /** The raw events zone as a stream — the checkpoint replaces the HWM
    * query entirely (offsets ARE the high-water mark) — as per-event fact
    * rows against `dimMedia`'s durations.
    */
  private def eventFacts(spark: SparkSession, rawRoot: String,
      dimMedia: DataFrame, ingestionTs: java.sql.Timestamp): DataFrame =
    Transforms.perEventFact(spark.readStream
      .schema(Schemas.rawEvent.add(RawZone.RunColumn, "string"))
      .json(s"$rawRoot/events"), durations(dimMedia), ingestionTs)

  // ------------------------------------------------------------ writing

  /** Append `df`, or with `idempotent` merge it first-write-wins on `key`
    * so a re-run or a replayed trigger converges.
    */
  private def land(path: String, key: Seq[String], idempotent: Boolean,
      partitionBy: Seq[String] = Nil)(df: DataFrame): Unit =
    if (idempotent) RawZone.warehouseMerge(df.sparkSession, df, path, key, partitionBy)
    else RawZone.warehouseAppend(df, path, partitionBy)

  /** One logged stage: its name, the staged frame and how it lands. */
  private final case class Stage(name: String, df: DataFrame,
      write: DataFrame => Unit)

  private def starStages(star: Star, wh: Warehouse, idempotent: Boolean): Seq[Stage] =
    Seq(Stage("dim_media", star.dimMedia, land(wh.dimMedia, dimMediaKey, idempotent)),
      Stage("dim_visitor", star.dimVisitor,
        land(wh.dimVisitor, dimVisitorKey, idempotent)),
      Stage("fact_media_engagement", star.fact,
        land(wh.fact, factKey, idempotent, Seq("date"))))

  /** The ordered observed-write loop every lifecycle shares: each stage
    * rides [[graft.sources.RunLog.observedWrite]]; a failing stage
    * appends everything logged so far (the `prelude` entries, e.g. a
    * gate's, included) plus its own failed row before the error
    * propagates; a clean run lands all its rows in ONE append. Returns
    * stage → rows written this run, prelude included.
    */
  private def observedWrites(spark: SparkSession, logPath: String,
      pipeline: String, ingestionTs: java.sql.Timestamp, stages: Seq[Stage],
      prelude: Seq[RunLog.Entry] = Nil): Map[String, Long] = {
    val done = prelude.toBuffer
    stages.foreach { s =>
      try done += RunLog.observedWrite(s.df, ingestionTs, pipeline, s.name)(s.write)
      catch {
        case f: RunLog.LoggedFailure =>
          RunLog.append(spark, logPath, (done :+ f.entry).toSeq)
          throw f.cause
      }
    }
    RunLog.append(spark, logPath, done.toSeq)
    done.map(e => e.stage -> e.rows).toMap
  }

  // ------------------------------------------------------------ batch

  /** §3.1 canonical batch lifecycle over the latest raw run, logged as
    * `runBatch`.
    */
  def runBatch(spark: SparkSession, rawRoot: String, wh: Warehouse,
      targetHashedIds: Seq[String],
      ingestionTs: java.sql.Timestamp,
      scaleDivisor: Double = WatchTime.percentScaleDivisor): Map[String, Long] =
    observedWrites(spark, runLogOf(wh.root), "runBatch", ingestionTs, starStages(
      stageStar(spark, rawRoot, targetHashedIds, ingestionTs, scaleDivisor),
      wh, idempotent = false))

  /** §3.1 batch lifecycle with CONVERGENT re-runs — the idiomatic fix for
    * the reference's T3 duplication hole (a retried
    * process_wistia_data_v2.py run re-appends every row, :764-772).
    * Identical transforms to [[runBatch]]; every write goes through
    * [[RawZone.warehouseMerge]] keyed on the table's natural key, so
    * running the same raw input N times yields byte-identical warehouse
    * contents (PipelineSpec asserts exactly this). First-write-wins: a
    * re-run never rewrites history, it only fills missing keys —
    * at-least-once delivery upgraded to effectively-once. Logged as
    * `runBatchIdempotent`; a stage's rows are the staged rows the merge
    * was offered, not the keys it added.
    */
  def runBatchIdempotent(spark: SparkSession, rawRoot: String, wh: Warehouse,
      targetHashedIds: Seq[String],
      ingestionTs: java.sql.Timestamp,
      scaleDivisor: Double = WatchTime.percentScaleDivisor): Map[String, Long] =
    observedWrites(spark, runLogOf(wh.root), "runBatchIdempotent", ingestionTs,
      starStages(stageStar(spark, rawRoot, targetHashedIds, ingestionTs,
        scaleDivisor), wh, idempotent = true))

  /** Catalog-table warehouse: the three star tables as `db.name`
    * identifiers instead of bare paths (reference
    * process_wistia_data_v2.py:88-128 bootstraps exactly these three).
    */
  case class CatalogWarehouse(db: String) {
    val dimMedia = s"$db.dim_media"
    val dimVisitor = s"$db.dim_visitor"
    val fact = s"$db.fact_media_engagement"
  }

  /** §3.1 batch lifecycle against catalog tables: idempotent
    * database/table bootstrap (CREATE IF NOT EXISTS — re-runnable, never
    * destructive), then the same transforms appended by table name. The
    * fact table is date-partitioned in the catalog, so the HWM query and
    * incremental reads partition-prune through the metastore. Logged as
    * `runBatchCatalog` in `run_log` under the database's location.
    */
  def runBatchCatalog(spark: SparkSession, rawRoot: String, wh: CatalogWarehouse,
      targetHashedIds: Seq[String],
      ingestionTs: java.sql.Timestamp,
      scaleDivisor: Double = WatchTime.percentScaleDivisor,
      dbLocation: Option[String] = None): Map[String, Long] = {
    val star = stageStar(spark, rawRoot, targetHashedIds, ingestionTs, scaleDivisor)
    Catalog.ensureDatabase(spark, wh.db, dbLocation)
    Catalog.ensureTable(spark, wh.dimMedia, star.dimMedia.schema)
    Catalog.ensureTable(spark, wh.dimVisitor, star.dimVisitor.schema)
    Catalog.ensureTable(spark, wh.fact, star.fact.schema, partitionBy = Seq("date"))
    observedWrites(spark, runLogOf(spark.catalog.getDatabase(wh.db).locationUri),
      "runBatchCatalog", ingestionTs, Seq(
        Stage("dim_media", star.dimMedia, Catalog.append(_, wh.dimMedia)),
        Stage("dim_visitor", star.dimVisitor, Catalog.append(_, wh.dimVisitor)),
        Stage("fact_media_engagement", star.fact,
          Catalog.append(_, wh.fact, partitionBy = Seq("date")))))
  }

  /** §3.2 prod incremental lifecycle: only events past HWM+1s are
    * processed, dim_media is TRUNCATE-refreshed, fact appends per-event
    * rows (A9 grain). Logged as `runIncremental`.
    */
  def runIncremental(spark: SparkSession, rawRoot: String, wh: Warehouse,
      targetHashedIds: Seq[String],
      ingestionTs: java.sql.Timestamp): Map[String, Long] = {
    // events: all runs, the HWM predicate prunes re-reads
    val rawEvents = Transforms.incrementalSince(
      RawZone.readJson(spark, rawRoot, "events", Schemas.rawEvent),
      effectiveSince(spark, wh))
    val dimMedia = stagedDimMedia(spark, rawRoot, targetHashedIds, ingestionTs)
    observedWrites(spark, runLogOf(wh.root), "runIncremental", ingestionTs, Seq(
      Stage("dim_media", dimMedia, RawZone.warehouseOverwrite(_, wh.dimMedia)),
      Stage("fact_media_engagement",
        Transforms.perEventFact(rawEvents, durations(dimMedia), ingestionTs),
        RawZone.warehouseAppend(_, wh.fact, partitionBy = Seq("date")))))
  }

  // ------------------------------------------------------------ streaming

  /** The §3.2 lifecycle as a Structured Streaming job (SURVEY §2.7 T5):
    * the raw events zone is the stream source and each
    * `Trigger.AvailableNow` activation appends exactly the new files'
    * per-event fact rows. dim_media durations broadcast from the latest
    * media run at start (the reference refreshes media per activation).
    * Returns the started query; callers `awaitTermination`.
    *
    * Per-TRIGGER run history: every foreachBatch activation logs one
    * `fact_trigger_<batchId>` row under `runStreaming`, and a trigger
    * whose sink write throws logs status=failed BEFORE the error fails
    * the stream — so the run log tells which trigger died and how many
    * triggers ran, the exact forensics a checkpoint restart needs.
    *
    * `idempotent = true` merges on the per-event natural identity: a
    * foreachBatch retry (sink failure after a partial append) is the one
    * at-least-once hole the checkpoint can't close, and the merge makes
    * the retry converge. `rows` is then the trigger's BATCH size — the
    * rows it processed, observed on the sink's input; a replayed trigger
    * may MERGE fewer rows than it processed, so summing `rows` over an
    * at-least-once replay history intentionally counts the replay.
    */
  def runStreaming(spark: SparkSession, rawRoot: String, wh: Warehouse,
      targetHashedIds: Seq[String],
      ingestionTs: java.sql.Timestamp,
      checkpoint: String,
      idempotent: Boolean = false): StreamingQuery = {
    val logPath = runLogOf(wh.root)
    val dimMedia = stagedDimMedia(spark, rawRoot, targetHashedIds, ingestionTs)
    graft.streaming.Streams.availableNowSink(
      eventFacts(spark, rawRoot, dimMedia, ingestionTs), checkpoint) {
      (batch, batchId) =>
        observedWrites(spark, logPath, "runStreaming", ingestionTs,
          Seq(Stage(s"fact_trigger_$batchId", batch,
            land(wh.fact, eventKey, idempotent, Seq("date")))))
        ()
    }.start()
  }

  // ------------------------------------------------------------ gates

  /** The staged-batch DQ EXPECTATION SUITE the promotion gate runs —
    * q57's audit posture (one row per expectation: table, check,
    * violation count, checked denominator, pass) applied to THIS batch's
    * staged frames before anything lands. Only expectations a real batch
    * can violate are audited: the transforms already enforce the rest by
    * construction (fact nulls are filtered at F2, dim_visitor dedups at
    * A10 — auditing those would be a sea of structurally-guaranteed
    * zeros). Checks:
    *   dim_media.dup_media_id       — upstream sent the same media twice
    *   dim_media.negative_duration  — corrupt duration payload
    *   fact.percent_range           — percent_viewed outside [0, 1]
    *   fact.orphan_media            — engagement for an untargeted/
    *                                  unknown media (RI vs the staged dim)
    * One scan per audited frame (conditional sums + count-minus-distinct
    * in a single agg; q57's discipline); the orphan check is one
    * anti-join count with the dim side broadcast. Callers pass PINNED
    * frames — the audit actions and the subsequent writes must not
    * recompute the transform lineage.
    */
  def batchExpectations(dimMedia: DataFrame, fact: DataFrame): DataFrame =
    dimExpectations(dimMedia).unionByName(factExpectations(dimMedia, fact))

  // coalesce every sum in the audits: over an EMPTY staged frame sum()
  // is NULL, and a null violations/pass row is an expectation that
  // neither passed nor failed — an empty batch must audit as 0
  // violations, checked 0
  private def reshapeAudit(agg1: DataFrame, tbl: String,
      checks: Seq[String]): DataFrame =
    agg1.select(explode(array(checks.map(name =>
      struct(lit(tbl).as("tbl"), lit(name).as("chk"),
        col(name).cast("long").as("violations"),
        col("n").cast("long").as("checked"))): _*)).as("r")).select("r.*")
      .withColumn("pass", col("violations") === 0L)

  /** The dim-side half of [[batchExpectations]] — separable because a
    * stream's dim is staged ONCE at start and immutable for the query's
    * lifetime, so [[runStreamingGated]] audits it once up front instead
    * of re-reporting the identical dim verdict on every trigger.
    */
  def dimExpectations(dimMedia: DataFrame): DataFrame =
    reshapeAudit(dimMedia.agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - count_distinct(col("media_id"))).as("dup_media_id"),
      coalesce(sum(when(col("duration") < 0.0, 1L).otherwise(0L)), lit(0L))
        .as("negative_duration")),
      "dim_media", Seq("dup_media_id", "negative_duration"))

  /** One fact-side expectation as ONE value: its name, how the gate
    * AUDITS it, and how the quarantine CAPTURES its violating rows. The
    * audit derives its names FROM [[factChecks]] and the quarantine looks
    * its capture up IN [[factChecks]], so every audited fact expectation
    * has a capture by construction — an expectation added to one side
    * only would silently degrade quarantine to a logged best-effort
    * failure (PipelineSpec pins the subset relation).
    */
  private[wistia] sealed trait FactCheck {
    def name: String
    def capture(dimMedia: DataFrame, fact: DataFrame): DataFrame
  }
  /** Per-row predicate: audited as a conditional sum inside the single
    * fact-scan aggregate, captured as the matching rows.
    */
  private final case class RowCheck(name: String,
      pred: org.apache.spark.sql.Column) extends FactCheck {
    def capture(dimMedia: DataFrame, fact: DataFrame): DataFrame = fact.filter(pred)
  }
  /** Frame-level check (joins against the staged dim): audited as the
    * frame's count, captured as the frame itself.
    */
  private final case class FrameCheck(name: String,
      frame: (DataFrame, DataFrame) => DataFrame) extends FactCheck {
    def capture(dimMedia: DataFrame, fact: DataFrame): DataFrame = frame(dimMedia, fact)
  }

  private[wistia] val factChecks: Seq[FactCheck] = Seq(
    RowCheck("percent_range",
      col("percent_viewed") < 0.0 || col("percent_viewed") > 1.0),
    FrameCheck("orphan_media", (dimMedia, fact) =>
      fact.join(broadcast(dimMedia.select("media_id")), Seq("media_id"),
        "left_anti")))

  /** The fact-side half of [[batchExpectations]] — the per-batch/
    * per-trigger checks (domain + referential integrity vs the staged
    * dim, which rides broadcast in the anti-join). Derived entirely
    * from [[factChecks]]: row predicates fold into ONE fact scan's
    * conditional sums; each frame check is its own count.
    */
  def factExpectations(dimMedia: DataFrame, fact: DataFrame): DataFrame = {
    val rowChecks = factChecks.collect { case c: RowCheck => c }
    val frameChecks = factChecks.collect { case c: FrameCheck => c }
    val fAgg = fact.agg(
      count(lit(1)).as("n"),
      rowChecks.map(c => coalesce(sum(when(c.pred, 1L).otherwise(0L)),
        lit(0L)).as(c.name)): _*)
    val rowAudit = reshapeAudit(fAgg, "fact", rowChecks.map(_.name))
    frameChecks.map { c =>
      c.capture(dimMedia, fact)
        .agg(count(lit(1)).cast("long").as("violations"))
        .crossJoin(fAgg.select(col("n").cast("long").as("checked")))
        .select(lit("fact").as("tbl"), lit(c.name).as("chk"),
          col("violations"), col("checked"))
        .withColumn("pass", col("violations") === 0L)
    }.foldLeft(rowAudit)(_ unionByName _)
  }

  /** The gate DECISION shared by every gated lifecycle: evaluate a
    * collected audit; violations ⇒ append ONE failed run-log row naming
    * every failing expectation and THROW (nothing may land); clean ⇒
    * return the ok entry for the caller to log alongside its writes.
    */
  private def gateOrThrow(spark: SparkSession, logPath: String,
      pipeline: String, stage: String, ingestionTs: java.sql.Timestamp,
      audit: Array[Row], t0: Long): RunLog.Entry = {
    val bad = audit.filter(_.getAs[Long]("violations") > 0L)
    if (bad.nonEmpty) {
      val msg = bad.map(r => s"${r.getAs[String]("tbl")}.${r.getAs[String]("chk")}" +
        s"=${r.getAs[Long]("violations")}").mkString(", ")
      RunLog.append(spark, logPath, Seq(RunLog.entry(ingestionTs, pipeline, stage,
        bad.map(_.getAs[Long]("violations")).sum, t0, "failed",
        s"expectations failed: $msg")))
      throw new IllegalStateException(
        s"$stage: batch rejected, nothing written — $msg")
    }
    RunLog.entry(ingestionTs, pipeline, stage, audit.length.toLong, t0)
  }

  /** [[runBatch]] behind a PROMOTION GATE (the dbt-test /
    * Great-Expectations posture): the DQ expectation suite runs against
    * the STAGED batch BEFORE any warehouse write, and a violating batch
    * never lands. A failed gate appends ONE run-log row (stage `dq_gate`,
    * status=failed, rows = the total violation count, error naming every
    * failing expectation) and throws; a clean gate logs `dq_gate` ok and
    * proceeds through exactly [[runBatch]]'s observed-write stages
    * (PipelineSpec pins that a clean gated run's warehouse rows equal an
    * ungated run's).
    *
    * Cost: the staged frames are pinned once (localCheckpoint — batch-
    * sized) so the audit actions and the writes share one computation of
    * the transforms; the audit itself is one scan per audited frame +
    * a broadcast anti-join (O(#expectations) result rows at any scale).
    */
  def runBatchGated(spark: SparkSession, rawRoot: String, wh: Warehouse,
      targetHashedIds: Seq[String],
      ingestionTs: java.sql.Timestamp,
      scaleDivisor: Double = WatchTime.percentScaleDivisor): Map[String, Long] = {
    val logPath = runLogOf(wh.root)
    val star = stageStar(spark, rawRoot, targetHashedIds, ingestionTs,
      scaleDivisor, pin = true)
    try {
      val t0 = System.nanoTime()
      val audit = batchExpectations(star.dimMedia, star.fact)
        .collect() // bounded: one row per expectation
      val gateEntry = gateOrThrow(spark, logPath, "runBatchGated", "dq_gate",
        ingestionTs, audit, t0)
      observedWrites(spark, logPath, "runBatchGated", ingestionTs,
        starStages(star, wh, idempotent = false), Seq(gateEntry))
    } finally
      Seq(star.dimMedia, star.fact).foreach(_.unpersist(blocking = false))
  }

  /** [[runStreaming]] behind the promotion gate — the streaming twin of
    * [[runBatchGated]] ("fail the trigger, don't land the batch"), split
    * along what can actually change per trigger: the DIM-side
    * expectations ([[dimExpectations]]) run ONCE before the stream
    * starts, because the staged dim is immutable for the query's
    * lifetime — a poisoned dim rejects at startup (`dq_gate_dim` failed
    * row + throw) instead of re-reporting the identical verdict every
    * trigger; the FACT-side expectations ([[factExpectations]]: percent
    * domain + orphan-media RI vs the broadcast dim) audit every
    * micro-batch before its sink write through the shared
    * [[gateOrThrow]] decision. A violating trigger logs one failed
    * `dq_gate_trigger_<batchId>` row naming the expectations and THROWS
    * — landing the batch would corrupt the fact table and silently
    * skipping it would drop data, so the stream dies with the trigger
    * UNCOMMITTED and the operator gets the failure plus the forensics.
    *
    * RECOVERY SEMANTICS, stated precisely (Spark's file source, not
    * this gate, defines them): the rejected trigger's FILE LIST is
    * already recorded in the source's metadata log, so a plain restart
    * replays the same files and the gate rejects them again —
    * deliberately: the poison cannot slip through by restarting. The
    * operator's playbook is to REMOVE the poisoned run's files and
    * republish corrected data as a NEW run: the planned batch then
    * replays whatever of its files remain (a fully-removed run replays
    * empty — dropping exactly the rejected rows, nothing else ever
    * landed), and the new run arrives as the next trigger. Do NOT edit
    * a planned run in place: the file source replays its recorded list
    * and skips missing files with only a WARN, so partial in-place
    * deletion silently loses the run's surviving rows — republish,
    * don't patch (PipelineSpec exercises exactly this playbook). The
    * batch pins once (localCheckpoint, micro-batch-sized) so the audit
    * and the write share one computation.
    *
    * `quarantine = true` adds DEAD-LETTER FORENSICS without touching
    * the fail-stop semantics: before the rejecting throw, the violating
    * rows land in [[Warehouse.quarantine]] (append-only, one row per
    * (event, failed expectation), stamped with the batch id and run
    * ts, plus its own run-log row) so the operator reads WHAT poisoned
    * the trigger without re-deriving it from the raw zone. The fact
    * table still receives nothing, the stream still dies with the
    * trigger uncommitted, and a quarantine-write failure is logged but
    * never masks the gate verdict. Off by default: the quarantine
    * retains rejected (possibly garbage, possibly sensitive) payloads,
    * which is a retention decision the operator must opt into.
    */
  def runStreamingGated(spark: SparkSession, rawRoot: String, wh: Warehouse,
      targetHashedIds: Seq[String],
      ingestionTs: java.sql.Timestamp,
      checkpoint: String,
      idempotent: Boolean = false,
      quarantine: Boolean = false): StreamingQuery = {
    val logPath = runLogOf(wh.root)
    // the immutable dim pins ONCE (localCheckpoint, dim-sized) BEFORE its
    // gate, so the startup verdict covers exactly the frame every trigger
    // then audits against and joins — not a per-trigger recomputation of
    // the raw-JSON-read + transform lineage. The pinned blocks live for
    // the query's lifetime (the returned StreamingQuery owns them); only
    // a REJECTED dim unpersists here, since no query starts.
    val dimMedia = stagedDimMedia(spark, rawRoot, targetHashedIds, ingestionTs)
      .localCheckpoint()
    // dim gate at startup: one bounded audit of the immutable staged dim
    val tDim = System.nanoTime()
    val dimGate =
      try gateOrThrow(spark, logPath, "runStreamingGated",
        "dq_gate_dim", ingestionTs, dimExpectations(dimMedia).collect(), tDim)
      catch { case e: Throwable =>
        dimMedia.unpersist(blocking = false); throw e
      }
    RunLog.append(spark, logPath, Seq(dimGate))
    val query = graft.streaming.Streams.availableNowSink(
      eventFacts(spark, rawRoot, dimMedia, ingestionTs), checkpoint) {
      (batch0, batchId) =>
        val batch = batch0.localCheckpoint()
        try {
          val t0 = System.nanoTime()
          val audit = factExpectations(dimMedia, batch).collect()
          if (quarantine && audit.exists(_.getAs[Long]("violations") > 0L)) {
            // dead-letter capture BEFORE the rejecting throw — one row
            // per (event, failed expectation), same predicates the
            // audit counted. Best-effort: its own failure logs and
            // yields to the gate verdict below.
            val stage = s"quarantine_trigger_$batchId"
            try {
              val failing = audit.filter(_.getAs[Long]("violations") > 0L)
                .map(_.getAs[String]("chk")).toSeq
              // capture looked up in the SAME definition the audit was
              // derived from — total over every audited fact
              // expectation by construction (the getOrElse is an
              // unreachable invariant guard, not a drift arm)
              val qRows = failing.map { chk =>
                factChecks.find(_.name == chk).getOrElse(
                  throw new IllegalStateException(
                    s"no quarantine capture for expectation $chk"))
                  .capture(dimMedia, batch)
                  .withColumn("failed_check", lit(chk))
              }.reduce(_ unionByName _)
                .withColumn("batch_id", lit(batchId))
                .withColumn("quarantined_run_ts", lit(ingestionTs))
              // mirror the fact sink's replay semantics: under
              // idempotent=true a restarted stream replays the same
              // poisoned trigger and the dead-letter rows must converge,
              // not duplicate — keyed on the event key plus the failed
              // expectation and batch id
              val qEntry = RunLog.observedWrite(qRows, ingestionTs,
                "runStreamingGated", stage)(land(wh.quarantine,
                  eventKey ++ Seq("failed_check", "batch_id"), idempotent))
              RunLog.append(spark, logPath, Seq(qEntry))
            } catch {
              case f: RunLog.LoggedFailure =>
                RunLog.append(spark, logPath, Seq(f.entry))
              case NonFatal(qe) =>
                RunLog.append(spark, logPath, Seq(RunLog.failed(ingestionTs,
                  "runStreamingGated", stage, t0, qe)))
            }
          }
          val gateEntry = gateOrThrow(spark, logPath, "runStreamingGated",
            s"dq_gate_trigger_$batchId", ingestionTs, audit, t0)
          observedWrites(spark, logPath, "runStreamingGated", ingestionTs,
            Seq(Stage(s"fact_trigger_$batchId", batch,
              land(wh.fact, eventKey, idempotent, Seq("date")))), Seq(gateEntry))
          ()
        } finally batch.unpersist(blocking = false)
    }.start()
    // the pinned dim lives exactly as long as its query: an orchestrator
    // looping activations in one session must not accumulate dim-sized
    // checkpoint blocks (the dropPersisted cliff) — release on
    // termination, then retire the listener
    val dimRelease = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          dimMedia.unpersist(blocking = false)
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(dimRelease)
    // close the registration race: a no-data AvailableNow query can
    // terminate (and dispatch its event) before addListener ran, so the
    // listener would never fire — if the query is already inactive,
    // release inline (unpersist is idempotent, removeListener a no-op
    // if the event also fired)
    if (!query.isActive) {
      dimMedia.unpersist(blocking = false)
      spark.streams.removeListener(dimRelease)
    }
    query
  }

  // ----------------------------------------------------------- retention

  /** The retention SLA of the whole tri-layer lake as ONE declarative
    * policy — which raw-zone runs, warehouse partitions, and snapshot
    * versions a nightly sweep may reclaim. Each leg is optional (empty
    * = that layer has no policy tonight):
    *
    *  - `rawRuns`: (root, entity, keepRuns) — unconditional
    *    [[graft.sources.RawZone.pruneRuns]] (the caller owns the
    *    landed-ness contract);
    *  - `rawRunsLanded`: (root, entity, keepRuns, checkpoint) — the
    *    checkpoint-safe variant ([[graft.sources.RawZone.pruneRunsLanded]]):
    *    a lagging streaming checkpoint BLOCKS the prune of unread runs;
    *  - `rawRunsHwm`: (root, entity, keepRuns, factTablePath, schema) —
    *    the BATCH/INCREMENTAL lifecycle's safety twin
    *    ([[graft.sources.RawZone.pruneRunsHwm]]): the cutoff derives
    *    from the fact table's high-water mark at leg time, so a fact
    *    table lagging its raw zone blocks the prune the same way a
    *    lagging checkpoint does;
    *  - `warehousePartitions`: (table, partitionCol, cutoff) —
    *    [[graft.sources.Catalog.dropPartitionsBelow]];
    *  - `stores`: (root, maxLayers, keepVersions) —
    *    [[graft.sources.Snapshots.maintain]] (chain cut + vacuum) —
    *    ANY snapshot store: doc/RAG/pack stores and the published
    *    vector store ([[graft.operators.VecStore]]) ride the same leg;
    *  - `vecRecall`: (root, sampleN, recallFloor_e6) — the vector
    *    store's QUALITY SLA: run [[graft.operators.VecStore.recallProbe]]
    *    (one observation row in the run log, leg rows = recall in e6
    *    fixed point) and, when the measured recall sinks below the
    *    floor, RETRAIN via [[graft.operators.VecStore.republish]] as
    *    its own logged leg — the advance contract's "nightly
    *    re-publish is the retrain" closed into the same one-call pass
    *    that already bounds storage; a healthy store's night is
    *    probe-only (no rewrite), observation and action separated in
    *    the trail.
    */
  final case class RetentionPolicy(
      rawRuns: Seq[(String, String, Int)] = Nil,
      rawRunsLanded: Seq[(String, String, Int, String)] = Nil,
      rawRunsHwm: Seq[(String, String, Int, String, StructType)] = Nil,
      warehousePartitions: Seq[(String, String, String)] = Nil,
      stores: Seq[(String, Int, Int)] = Nil,
      vecRecall: Seq[(String, Int, Long)] = Nil)

  /** One nightly RETENTION pass over all three storage layers — the
    * composed entry point the layer ops
    * ([[graft.sources.RawZone.pruneRuns]]/[[graft.sources.RawZone.pruneRunsLanded]],
    * [[graft.sources.Catalog.dropPartitionsBelow]],
    * [[graft.sources.Snapshots.maintain]]) existed for but left to be
    * assembled by hand: walk the policy, write ONE run-log row per
    * action (`retention` pipeline; rows = units reclaimed; a failed
    * leg logs `failed` with the error), and keep walking past a failed
    * leg so one bad table never silently blocks the rest of the SLA —
    * then fail loudly at the end naming every failed stage. Returns
    * the log entries of the pass.
    * Scale: every leg is metadata-bounded by construction (directory
    * deletes, partition drops, snapshot-pointer maintenance — the one
    * data-sized action, `maintain`'s chain cut, is amortized to one
    * per `maxLayers` nights by its own policy test).
    */
  def runRetention(spark: SparkSession, policy: RetentionPolicy,
      runLogPath: String,
      runTs: java.sql.Timestamp = new java.sql.Timestamp(
        System.currentTimeMillis())): Seq[RunLog.Entry] = {
    val entries = scala.collection.mutable.Buffer[RunLog.Entry]()
    // RunLog's failure rule: an ordinary failed leg is logged and the
    // walk continues; a fatal throwable propagates unlogged
    def leg(stage: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      entries += (try RunLog.entry(runTs, "retention", stage, body, t0)
        catch { case NonFatal(err) => RunLog.failed(runTs, "retention", stage, t0, err) })
    }
    policy.rawRuns.foreach { case (root, entity, keep) =>
      leg(s"prune_raw:$entity") {
        RawZone.pruneRuns(spark, root, entity, keep).size.toLong }
    }
    policy.rawRunsLanded.foreach { case (root, entity, keep, checkpoint) =>
      leg(s"prune_raw_landed:$entity") {
        RawZone.pruneRunsLanded(spark, root, entity, keep, checkpoint)
          .size.toLong }
    }
    policy.rawRunsHwm.foreach { case (root, entity, keep, factPath, schema) =>
      leg(s"prune_raw_hwm:$entity") {
        // a fact table not yet created is the extreme lagging consumer:
        // hwm = None and the prune is blocked, not failed
        val fp = new Path(factPath)
        val hwm =
          if (!fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(fp)) None
          else Transforms.highWaterMark(RawZone.warehouse(spark, factPath))
        RawZone.pruneRunsHwm(spark, root, entity, keep, hwm, schema)
          .size.toLong }
    }
    policy.warehousePartitions.foreach { case (table, partCol, cutoff) =>
      leg(s"drop_partitions:$table") {
        Catalog.dropPartitionsBelow(spark, table, partCol, cutoff)
          .size.toLong }
    }
    policy.stores.foreach { case (root, maxLayers, keep) =>
      leg(s"maintain_store:${new Path(root).getName}") {
        val m = Snapshots.maintain(spark, root, maxLayers, keep)
        m.vacuumed.size.toLong
      }
    }
    policy.vecRecall.foreach { case (root, sampleN, floorE6) =>
      val name = new Path(root).getName
      var measured = -1L
      leg(s"vec_recall:$name") {
        measured = math.round(graft.operators.VecStore.recallProbe(
          spark, root, sampleN, runLogPath = Some(runLogPath),
          runTs = runTs) * 1e6)
        measured
      }
      // retrain only on a SUCCESSFUL observation below the floor — a
      // failed probe logs its own failed leg and must not trigger a
      // store rewrite on garbage evidence
      if (measured >= 0L && measured < floorE6)
        leg(s"vec_republish:$name") {
          graft.operators.VecStore.republish(spark, root,
            runLogPath = Some(runLogPath))
          // rows = vectors retrained — the trail's units-of-work shape
          // (every other leg reports work done, never an opaque
          // version number)
          Snapshots.readTable(spark, root, "vec_params")
            .collect().head.getAs[Long]("n_corpus")
        }
    }
    RunLog.append(spark, runLogPath, entries.toSeq)
    val failed = entries.filter(_.status == "failed")
    if (failed.nonEmpty) throw new IllegalStateException(
      s"retention pass had ${failed.size} failed leg(s): " +
        failed.map(e => s"${e.stage} (${e.error.takeWhile(_ != '\n')})")
          .mkString("; "))
    entries.toSeq
  }
}
