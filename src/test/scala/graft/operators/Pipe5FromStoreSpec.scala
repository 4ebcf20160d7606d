package graft.operators

import org.apache.spark.sql.functions._

/** Production-shaped pipe3/pipe5 parity: the from-store variants
  * (reading the six store tables materializeStore wrote, touching the
  * raw corpus only for batch rows and boundary-doc text) must be
  * bit-identical to the registry twins that re-derive the store
  * in-plan for the oracle's sake. This is the correctness half of the
  * ScaleProbe `prod:pipe5` arm (last at commit 561c6b9), pinned at
  * sf0.001 so it runs in the suite.
  */
class Pipe5FromStoreSpec extends graft.SparkSpec {

  test("pipe3ManifestFromStore / pipe5FromStore equal the registry twins at sf0.001") {
    val d = sf("sf0.001")
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_p5store").toString
    TrainPrep.materializeStore(spark, d, storeDir)
    // pipe3: accepted-batch manifest (registry output is presentation-
    // sorted; compare as sets of full rows)
    val man3Want = graft.SparkEntry.queries("pipe3_incremental_prep")(spark, d)
      .collect().map(_.toSeq).toSet
    val man3Got = TrainPrep.pipe3ManifestFromStore(spark, d, storeDir)
      .select("doc_id", "source", "n_tokens", "shard", "pos", "start_off")
      .collect().map(_.toSeq).toSet
    assert(man3Want.nonEmpty)
    assert(man3Got === man3Want)
    // pipe5: touched-chunk table, ordered — compare row-for-row
    val p5Want = graft.SparkEntry.queries("pipe5_incremental_chunks")(spark, d)
      .collect().map(_.toSeq).toSeq
    val p5Got = TrainPrep.pipe5FromStore(spark, d, storeDir)
      .collect().map(_.toSeq).toSeq
    assert(p5Want.nonEmpty)
    assert(p5Got === p5Want)

    // the boundary PREFILTER reaches the manifest scan as pushed
    // literals (r15): with the manifest sorted by start_off within each
    // shard's files, row-group min/max stats turn the boundary read
    // into a tail read — the plan must show the (shard, start_off)
    // literals pushed, or the "last store-sized read removed" claim is
    // just a comment (asserted on the factored boundaryScan; the full
    // pipe5 plan hides this scan behind shardChunksOf's checkpoint)
    val plan = TrainPrep.boundaryScan(spark, storeDir, None)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(3000))
    assert(plan.contains("GreaterThan(start_off,"), plan.take(3000))
    assert(plan.contains("EqualTo(shard,"), plan.take(3000))
  }
}
