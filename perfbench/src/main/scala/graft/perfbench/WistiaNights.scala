package graft.perfbench

import java.sql.Timestamp
import java.time.{Duration, Instant}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.{RawZone, RunLog}
import graft.wistia.{Pipeline, Schemas, Transforms}

/** The product path, one night per corpus day: land the night's raw media
  * and events runs, run the gated batch lifecycle, run the gated streaming
  * lifecycle to termination (AvailableNow), then the retention pass that
  * prunes raw runs behind the checkpoint and high-water-mark guards.
  */
final class WistiaNights(c: Ctx) extends Workload {
  import WistiaNights.Lake

  private val raw = s"${c.data}/wistia"
  private lazy val media: DataFrame =
    c.spark.read.schema(Schemas.rawMedia).json(s"$raw/media.json")
  private lazy val targets: Seq[String] =
    media.select("hashed_id").collect().map(_.getString(0)).toSeq.sorted
  private lazy val nights: Int =
    new java.io.File(s"$raw/events").list().count(_.startsWith("night="))
  private def events(n: Int): DataFrame =
    c.spark.read.schema(Schemas.rawEvent).json(f"$raw/events/night=$n%02d")

  private def ingestionTs(n: Int): Timestamp =
    Timestamp.from(Instant.parse("2024-01-02T02:00:00Z").plus(Duration.ofDays(n.toLong)))

  private def night(lake: Lake, n: Int): Unit = {
    val ts = ingestionTs(n)
    val stamp = RawZone.runStamp(ts.toInstant)
    c.rec.span("rawzone.land") {
      RawZone.writeRun(media, lake.rawRoot, "media", stamp)
      RawZone.writeRun(events(n), lake.rawRoot, "events", stamp)
    }
    c.rec.span("pipeline.batch_gated") {
      Pipeline.runBatchGated(c.spark, lake.rawRoot, lake.batch, targets, ts)
    }
    c.rec.span("pipeline.stream_gated") {
      val q = Pipeline.runStreamingGated(c.spark, lake.rawRoot, lake.stream,
        targets, ts, lake.checkpoint)
      q.awaitTermination()
    }
    c.rec.span("retention") {
      val units = Pipeline.runRetention(c.spark, lake.policy, lake.retentionLog, ts)
        .map(_.rows).sum
      c.rec.count(c.rec.current, "retention.units", units.toDouble)
    }
  }

  private val lake = Lake(s"${c.work}/lake")
  private val timed = scala.collection.mutable.ArrayBuffer[(Int, Int)]() // (op id, night)

  /** The lake's first `setupNights` nights: they create its tables and
    * checkpoint and pay the session's first-use costs, so the timed
    * nights are nights of an existing, growing lake.
    */
  def prepare(): Unit = (0 until WistiaNights.setupNights).foreach(night(lake, _))

  /** Whole groups of `groupNights` nights until the deadline, so every
    * run's median is taken over the same positions in the lake's life.
    */
  def run(deadline: Double): Unit = {
    var n = WistiaNights.setupNights
    while ((c.rec.now() < deadline || (n - WistiaNights.setupNights) % WistiaNights.groupNights != 0)
        && n < nights) {
      val id = c.rec.ops.size
      c.rec.op("night")(night(lake, n))
      timed += ((id, n))
      if (c.rec.tracing) {
        c.rec.count(id, "rawzone.runs_listed",
          runDirs(s"${lake.rawRoot}/events") + runDirs(s"${lake.rawRoot}/media"))
        val (files, bytes) = Seq(lake.batch.root, lake.stream.root).map(size)
          .foldLeft((0L, 0L)) { case ((f, b), (f1, b1)) => (f + f1, b + b1) }
        c.rec.count(id, "warehouse.files", files.toDouble)
        c.rec.count(id, "warehouse.mb", bytes / 1e6)
      }
      c.storageAfter(id)
      n += 1
    }
  }

  private def runDirs(dir: String): Double =
    Option(new java.io.File(dir).list()).map(_.count(_.startsWith(RawZone.RunColumn + "="))).getOrElse(0).toDouble

  private def size(dir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(c.sc.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else { val s = fs.getContentSummary(p); (s.getFileCount, s.getLength) }
  }

  /** Run-log verdicts per night, the fact-table equivalence and the
    * per-event row count; a night whose log is incomplete or not ok fails.
    */
  def finish(): Unit = {
    c.extras("nights") = timed.size
    if (timed.isEmpty) return
    val ran = 0 until timed.last._2 + 1
    val allEvents = ran.map(events).reduce(_ unionByName _)
    val dim = Transforms.dimMedia(media, targets, ingestionTs(0))
    val expected = Transforms.factMediaEngagement(allEvents,
      dim.select("media_id", "duration"), ingestionTs(0)).drop("ingestion_timestamp")
    val cols = expected.columns.sorted.map(col).toSeq
    val got = RawZone.warehouse(c.spark, lake.batch.fact).drop("ingestion_timestamp")
      .withColumn("date", col("date").cast("date")).select(cols: _*)
    val exp = expected.select(cols: _*)
    val logs = Seq(s"${lake.batch.root}/run_log", s"${lake.stream.root}/run_log", lake.retentionLog)
    val Seq(landedN, differN, perEventN, nEventsN, logRows) = c.concurrently[Any](
      () => got.count(),
      () => got.exceptAll(exp).unionAll(exp.exceptAll(got)).count(),
      () => RawZone.warehouse(c.spark, lake.stream.fact).count(),
      () => allEvents.count(),
      () => logs.map(RunLog.read(c.spark, _)).reduce(_ unionByName _).collect())
    val Seq(landed, differ, perEvent, nEvents) =
      Seq(landedN, differN, perEventN, nEventsN).map(_.asInstanceOf[Long])
    val log = logRows.asInstanceOf[Array[org.apache.spark.sql.Row]]
    timed.foreach { case (id, n) =>
      val rows = log.filter(_.getAs[Timestamp]("run_ts") == ingestionTs(n))
      def stage(p: String) = rows.filter(_.getAs[String]("stage").startsWith(p))
      def ms(p: String) = stage(p).map(_.getAs[Long]("millis")).sum.toDouble
      val need = Seq("dq_gate", "dim_media", "dim_visitor", "fact_media_engagement",
        "dq_gate_dim", "fact_trigger_", "dq_gate_trigger_", "prune_raw")
      val missing = need.filter(stage(_).isEmpty)
      val bad = rows.filter(_.getAs[String]("status") != "ok").map(_.getAs[String]("stage"))
      c.check(f"run_log_night_$n%02d", missing.isEmpty && bad.isEmpty,
        s"missing ${missing.mkString(",")}; not ok ${bad.mkString(",")}", Seq(id))
      c.rec.count(id, "runlog.dq_gate_ms", ms("dq_gate") - ms("dq_gate_dim") - ms("dq_gate_trigger_"))
      c.rec.count(id, "runlog.dim_media_ms", ms("dim_media"))
      c.rec.count(id, "runlog.dim_visitor_ms", ms("dim_visitor"))
      c.rec.count(id, "runlog.fact_ms", ms("fact_media_engagement"))
      c.rec.count(id, "runlog.trigger_gate_ms", ms("dq_gate_trigger_"))
      c.rec.count(id, "runlog.trigger_fact_ms", ms("fact_trigger_"))
      c.rec.count(id, "streaming.triggers", stage("fact_trigger_").length.toDouble)
    }
    val all = timed.map(_._1).toSeq
    c.check("fact_union_equals_full_fact", differ == 0 && landed > 0,
      s"$landed rows landed, $differ rows differ", all)
    c.check("per_event_rows", perEvent == nEvents, s"$perEvent rows for $nEvents events", all)
    c.extras("fact_rows") = landed
    c.extras("per_event_rows") = perEvent
  }
}

object WistiaNights {
  val setupNights = 2
  val groupNights = 3

  /** One lake: raw zone, the batch and streaming warehouses, the stream
    * checkpoint and the retention log, under `root`.
    */
  final case class Lake(root: String) {
    val rawRoot = s"$root/raw"
    val batch = Pipeline.Warehouse(s"$root/wh_batch")
    val stream = Pipeline.Warehouse(s"$root/wh_stream")
    val checkpoint = s"$root/checkpoint"
    val retentionLog = s"$root/retention_log"
    def policy = Pipeline.RetentionPolicy(
      rawRuns = Seq((rawRoot, "media", 2)),
      rawRunsLanded = Seq((rawRoot, "events", 2, checkpoint)),
      rawRunsHwm = Seq((rawRoot, "events", 2, batch.fact, Schemas.rawEvent)))
  }
}
