package graft.operators

import org.apache.spark.sql.functions._
import graft.sources.{RunLog, Snapshots}

/** The RAG index LIFECYCLE end-to-end through the real operators:
  * pipe6's index publishes as ONE atomic multi-table Snapshots version
  * (with a RunLog row recording it), the from-store serving twins
  * (search6FromStore / search7FromStore) are bit-identical to the
  * registry queries that re-derive the index in-plan for the oracle's
  * sake, and — the reproducibility contract — a reader PINNED to v1
  * keeps reproducing its exact results after the corpus changes and v2
  * is rebuilt, while diffTable names precisely what changed between the
  * versions. This is the correctness half of ScaleProbe's
  * `prod:search6` arm (last at commit 561c6b9), pinned at sf0.001 so it
  * runs in the suite.
  */
class RagStoreSpec extends graft.SparkSpec {

  test("publish → pinned from-store serving ≡ registry; rebuild keeps v1 reproducible; diff names the change") {
    val d = sf("sf0.001")
    val root = java.nio.file.Files
      .createTempDirectory("graft_ragstore").toString
    val runLog = java.nio.file.Files
      .createTempDirectory("graft_raglog").toString + "/runlog.parquet"
    val ts = java.sql.Timestamp.valueOf("2026-08-15 00:00:00")

    // --- publish v1 + its run-log row
    val v1 = TrainPrep.publishRagStore(spark, d, root, Some(runLog), ts)
    assert(Snapshots.latestVersion(spark, root) === Some(v1))
    val logRows = RunLog.read(spark, runLog)
      .filter(col("pipeline") === "rag_index").collect()
    assert(logRows.length === 1)
    assert(logRows(0).getAs[String]("stage") === s"publish_v$v1")
    assert(logRows(0).getAs[String]("status") === "ok")
    assert(logRows(0).getAs[Long]("rows") > 0L)

    // --- from-store twins ≡ registry twins (both presentation-ordered)
    val want6 = graft.SparkEntry.queries("search6_hybrid_chunks")(spark, d)
      .collect().map(_.toSeq).toSeq
    val got6 = TextOps.search6FromStore(spark, root, Some(v1))
      .collect().map(_.toSeq).toSeq
    assert(want6.nonEmpty)
    assert(got6 === want6)
    val want7 = graft.SparkEntry.queries("search7_rag_context")(spark, d)
      .collect().map(_.toSeq).toSeq
    val got7 = TextOps.search7FromStore(spark, root, Some(v1))
      .collect().map(_.toSeq).toSeq
    assert(want7.nonEmpty)
    assert(got7 === want7)

    // --- rebuild v2 from a changed corpus (one doc gone)
    val removed = Snapshots.readTable(spark, root, "chunklens", Some(v1))
      .agg(min("doc_id")).first().getLong(0)
    val removedChunks = Snapshots.readTable(spark, root, "chunklens", Some(v1))
      .filter(col("doc_id") === removed).count()
    assert(removedChunks > 0L)
    val d2 = java.nio.file.Files
      .createTempDirectory("graft_ragcorpus2").toString
    graft.Tables.documents(spark, d).filter(col("doc_id") =!= removed)
      .write.parquet(s"$d2/documents.parquet")
    val v2 = TrainPrep.publishRagStore(spark, d2, root, Some(runLog), ts)
    assert(v2 === v1 + 1)
    assert(Snapshots.latestVersion(spark, root) === Some(v2))
    assert(RunLog.read(spark, runLog)
      .filter(col("stage") === s"publish_v$v2").count() === 1L)

    // --- reproducibility: the v1-pinned reader is untouched by the rebuild
    assert(TextOps.search6FromStore(spark, root, Some(v1))
      .collect().map(_.toSeq).toSeq === want6)
    assert(TextOps.search7FromStore(spark, root, Some(v1))
      .collect().map(_.toSeq).toSeq === want7)

    // --- the audit half: chunk lengths are per-doc, so the chunklens
    // diff is EXACTLY the removed doc's chunks, all flagged 'removed'
    // (index/cent assignments may legitimately shift — centroid seeds
    // and k change with the corpus — but chunking of surviving docs
    // cannot)
    val dl = Snapshots.diffTable(spark, root, "chunklens", v1, v2,
      keys = Seq("doc_id", "k")).collect()
    assert(dl.length.toLong === removedChunks)
    assert(dl.forall(r => r.getAs[Long]("doc_id") == removed
      && r.getAs[String]("change") == "removed"))
    // the removed doc's index rows vanish from v2 too
    val di = Snapshots.diffTable(spark, root, "index", v1, v2,
      keys = Seq("doc_id", "k"))
      .filter(col("doc_id") === removed).collect()
    assert(di.nonEmpty && di.forall(_.getAs[String]("change") == "removed"))
  }
}
