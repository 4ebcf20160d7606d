package graft.wistia

import org.apache.spark.sql.SparkSession
import graft.sources.{RawZone, WistiaHttp}

/** The reference's ingestion entry point (`ingest_wistia.py:
  * run_wistia_ingestion`) as an engine lifecycle: fetch media metadata
  * (List endpoint, driver-side — the list is small) and per-media event
  * streams (via the wistia-raw connector's HTTP mode — one executor
  * partition per media), then land both in the raw zone under one run
  * stamp. Downstream, the `Pipeline` lifecycles (`runBatch` and its
  * gated/idempotent/catalog variants, `runIncremental`, `runStreaming`
  * and `runStreamingGated`) pick up from the raw zone exactly as the
  * reference's process scripts pick up the ingestor's blobs.
  *
  * Failure isolation matches the reference: a media whose pagination
  * errors mid-way contributes the pages it yielded (connector
  * corruptPages metric counts the breaks); a failed media-list fetch
  * lands an empty media run rather than aborting events.
  */
object Ingest {

  /** One ingestion run. Returns the run stamp used for both entities.
    *
    * `mediaMode` selects how media metadata is fetched:
    *  - `"list"` (default): the List endpoint with short-page pagination
    *    (reference `ingest_wistia.py` — one request per 100 medias);
    *  - `"show"`: the v1 ingestor's per-media Show endpoint
    *    (`ingest_wistia_v1.py:163-207` — `GET medias/{id}.json` per id
    *    in `mediaIdsForEvents`; a failed fetch skips that media). The
    *    Show body is the same media JSON shape as a List item, so the
    *    raw zone lands identical records either way; the v1 4-field
    *    projection is [[Transforms.mediaMetadataV1]] on the landed run.
    */
  def runIngestion(spark: SparkSession, apiBase: ApiEndpoints, token: String,
      mediaIdsForEvents: Seq[String], rawRoot: String,
      startDate: Option[String] = None, endDate: Option[String] = None,
      stamp: String = RawZone.runStamp(), mediaMode: String = "list"): String = {
    import spark.implicits._

    // media metadata: List endpoint with short-page pagination, or the
    // v1 per-media Show endpoint (both driver-side — the list is small)
    val mediaBodies = mediaMode match {
      case "show" => mediaIdsForEvents
        .flatMap(id => WistiaHttp.show(apiBase.mediaShowUrlBase, token, id))
      case _ => WistiaHttp.mediaPages(apiBase.mediaListUrl, token, perPage = 100)
    }
    val media = spark.read.schema(Schemas.rawMedia)
      .json(spark.createDataset(mediaBodies.toSeq))
    RawZone.writeRun(media, rawRoot, "media", stamp)

    // events: distributed per-media pagination through the connector
    var reader = spark.read.format("wistia-raw")
      .schema(Schemas.rawEvent)
      .option("api.url", apiBase.eventsUrl)
      .option("api.token", token)
      .option("api.media_ids", mediaIdsForEvents.mkString(","))
    endDate.foreach(d => reader = reader.option("api.end_date", d))
    val events = startDate match {
      case Some(d) => reader.load().filter(
        org.apache.spark.sql.functions.col("received_at") >=
          org.apache.spark.sql.functions.lit(java.sql.Timestamp.valueOf(s"$d 00:00:00")))
      case None => reader.load()
    }
    RawZone.writeRun(events, rawRoot, "events", stamp)
    stamp
  }
}

/** The stats-API endpoints (reference EVENTS_LIST_URL / MEDIA_LIST_URL
  * constants; `mediaShowUrlBase` is the v1 ingestor's MEDIA_BASE_URL —
  * Show requests go to `{mediaShowUrlBase}/{id}.json`).
  */
case class ApiEndpoints(eventsUrl: String, mediaListUrl: String,
    mediaShowUrlBase: String = "")
