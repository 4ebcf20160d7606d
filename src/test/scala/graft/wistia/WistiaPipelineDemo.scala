package graft.wistia

import org.apache.spark.sql.{functions => F}
import java.sql.Timestamp

/** Runnable end-to-end demo of the Wistia star-schema pipeline on a
  * synthetic fixture: raw media + raw events → dim_media → fact with A6
  * watch-time → high-water mark. `sbt "Test/runMain graft.wistia.WistiaPipelineDemo"`.
  */
object WistiaPipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val media = Seq(
      (1L, "My FB promo", "Video", Timestamp.valueOf("2025-01-01 00:00:00"),
        Timestamp.valueOf("2025-01-02 00:00:00"), 90.0, "h1", (7L, "P", "ph")))
      .toDF("id", "name", "type", "created", "updated", "duration", "hashed_id", "pt")
      .withColumn("project", F.struct(F.col("pt._1").as("id"),
        F.col("pt._2").as("name"), F.col("pt._3").as("hashed_id")))
      .drop("pt")
    val events = Seq(
      ("h1", "vA", Timestamp.valueOf("2025-03-01 10:00:00"), 0.1, "k1", "9.9.9.9", "US"),
      ("h1", "vA", Timestamp.valueOf("2025-03-01 10:00:20"), 0.6, "k2", "9.9.9.9", "US"))
      .toDF("media_id", "visitor_key", "received_at", "percent_viewed", "event_key", "ip", "country")
      .withColumn("name", F.lit(null).cast("string"))
      .withColumn("region", F.lit("r")).withColumn("city", F.lit("c"))
      .withColumn("user_agent_details", F.struct(
        F.lit("FF").as("browser"), F.lit("1").as("browser_version"),
        F.lit("X").as("platform"), F.lit(true).as("mobile")))

    val ing = Timestamp.valueOf("2025-06-01 00:00:00")
    val dm = Transforms.dimMedia(media, Seq("h1"), ing)
    dm.show(false)
    Transforms.dimVisitor(events, ing).show(false)
    val fact = Transforms.factMediaEngagement(events, dm, ing, scaleDivisor = 1.0)
    fact.show(false)
    println("HWM=" + Transforms.highWaterMark(fact))
    spark.stop()
  }
}
