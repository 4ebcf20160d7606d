package graft.operators

import org.apache.spark.sql.functions._

/** mine1's stop-word guard (mine1Capped): the production knob for a
  * degenerate-vocabulary corpus where even the tf·idf-salient query
  * terms are near-stop-words and the term-pruned candidate join goes
  * q × N quadratic. Two contracts:
  *
  *  1. On the gate corpus a LOOSE cap is a no-op — the capped variant is
  *     bit-identical to the uncapped registry query (salient ⇒ rare, so
  *     no query term crosses the cap). This is why the registry query
  *     can stay uncapped and oracle-gated.
  *  2. On a degenerate corpus (1 rare word df=10 + 20 near-stop-words
  *     df≈N/3 per doc) a real cap bounds the fan-out to the rare terms:
  *     every capped candidate shares its query's RARE word (same
  *     id-div-10 block), while the uncapped run's candidates sprawl
  *     across the corpus through the stop-words. The timing half is
  *     ScaleProbe `skew:mine1` arm (last at commit 561c6b9): uncapped
  *     4.86 → 274.1 s for 10× docs,
  *     capped 2.05 → 2.30 s — the pipe3 hot-store shape.
  */
class Mine1CapSpec extends graft.SparkSpec {

  test("loose cap is a no-op on the gate corpus (bit-identical to the registry query)") {
    val d = sf("sf0.001")
    val nDocs = graft.Tables.documents(spark, d).count()
    val want = graft.SparkEntry.queries("mine1_hard_negatives")(spark, d)
      .collect().map(_.toSeq).toSeq
    val got = TextOps.mine1Capped(spark, d, dfCap = nDocs)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("a real cap drops only the near-stop-word terms: candidates stay in the rare-term blocks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mine1cap").toString
    val n = 500L
    spark.range(n).selectExpr(
      "id AS doc_id",
      """concat_ws(' ',
        |  concat('r', CAST(id div 10 AS STRING)),
        |  concat_ws(' ', transform(sequence(0, 19),
        |    j -> concat('w', CAST((id*31 + j*7) % 60 AS STRING))))
        |) AS text""".stripMargin,
      "'xx' AS lang", "'probe' AS source", "21L AS n_chars")
      .write.parquet(s"$dir/documents.parquet")
    spark.range(n).selectExpr("id AS vec_id",
      "transform(sequence(0, 63), j -> CAST(CASE WHEN j = CAST(id % 64 AS INT) THEN 10.0 ELSE 0.1 END AS FLOAT)) AS embedding",
      "CAST(id % 4 AS INT) AS label")
      .write.parquet(s"$dir/embeddings.parquet")

    // cap=50: rare words (df=10) survive, shared-vocab words (df≈n/3≈166)
    // are refused — candidates can only arrive through the query's rare
    // word, i.e. from the same id-div-10 block (9 co-block docs)
    val capped = TextOps.mine1Capped(spark, dir, dfCap = 50L).collect()
    assert(capped.nonEmpty)
    assert(capped.forall(r =>
      r.getAs[Long]("cand_id") / 10L == r.getAs[Long]("qid") / 10L))
    // 5 queries (doc_id % 100 = 0) × 9 co-block candidates
    assert(capped.length === 45)

    // uncapped: the near-stop-words fan out — candidates from OUTSIDE the
    // query's block fill the top-20 (the q × N shape the guard bounds)
    val uncapped = graft.SparkEntry.queries("mine1_hard_negatives")(spark, dir)
      .collect()
    assert(uncapped.exists(r =>
      r.getAs[Long]("cand_id") / 10L != r.getAs[Long]("qid") / 10L))
    assert(uncapped.length === 5 * 20) // every query's top-20 is full
  }
}
