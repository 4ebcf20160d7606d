package graft.perfbench

import graft.{Q, Registry, SparkEntry}
import graft.operators._
import graft.wistia.WistiaGate

/** Registry queries over the generated corpus, written to the noop sink:
  * heavy on `graft.operators`, with no warehouse or store writes. One op is
  * one query. A fixed subset of `Registry.all`, one query from each object
  * it concatenates, runs in whole passes, each pass in a seed-shuffled
  * order, until the deadline. Set-up runs every chosen query once, a few
  * side by side, which pays first-use costs (code generation, the vector
  * store publish behind `sim17_from_store`), and keeps those outputs for
  * the oracle check. After
  * each query the harness unpersists what the query left persisted, as
  * `graft.Bench` does, and counts it.
  */
final class QueryRegistry(c: Ctx) extends Workload {
  import QueryRegistry._

  private val rng = new scala.util.Random(c.seed)
  private val out = s"${c.work}/outputs"
  private val queries: Seq[(String, Q)] = chosen.map(n => byName(n))
  private var passes = 0
  private var released = 0

  /** Unpersist every persisted RDD; returns how many there were. */
  private def release(): Int = {
    val rdds = c.sc.getPersistentRDDs.values.toSeq
    rdds.foreach(_.unpersist(blocking = true))
    released += rdds.size
    rdds.size
  }

  /** Runs every chosen query once, `warmThreads` at a time. */
  def prepare(): Unit = {
    c.inParallel(warmThreads, queries.map { case (_, q) =>
      () => q.fn(c.spark, c.data).write.mode("overwrite").parquet(s"$out/${q.name}")
    })
    release()
  }

  def run(deadline: Double): Unit =
    while (c.rec.now() < deadline) {
      rng.shuffle(queries).foreach { case (module, q) =>
        val id = c.rec.ops.size
        c.rec.op(q.name)(c.rec.span(s"registry.$module") {
          q.fn(c.spark, c.data).write.format("noop").mode("overwrite").save()
        })
        c.storageAfter(id)
        c.rec.count(id, "storage.released_rdds", release().toDouble)
      }
      passes += 1
    }

  /** The oracle comparison needs DuckDB, so the harness only hands over
    * what it needs: each chosen query's oracle SQL, its set-up output and
    * the ops that ran it.
    */
  def finish(): Unit = {
    c.extras("passes") = passes
    c.extras("released_rdds") = released
    c.extras("registry") = queries.map { case (module, q) =>
      Map("name" -> q.name, "module" -> module, "output" -> s"$out/${q.name}",
        "oracle" -> SparkEntry.oracleSql(q.name),
        "ops" -> c.rec.ops.filter(_.kind == q.name).map(_.id).toSeq)
    }
  }
}

object QueryRegistry {
  val warmThreads = 4

  /** The objects `Registry.all` concatenates, by name, in its order. */
  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.queries, "GraphOps" -> GraphOps.queries,
    "TextOps" -> TextOps.queries, "TrainPrep" -> TrainPrep.queries,
    "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
    "VecStore" -> VecStore.queries, "Multimodal" -> Multimodal.queries,
    "EventOps" -> EventOps.queries, "AsOf" -> AsOf.queries, "Skew" -> Skew.queries,
    "WistiaGate" -> WistiaGate.queries)

  /** Query name -> (module, query). */
  lazy val byName: Map[String, (String, Q)] = {
    val all = modules.flatMap { case (m, qs) => qs.map(q => q.name -> (m -> q)) }
    require(all.map(_._1) == Registry.all.map(_.name),
      "the module list no longer matches Registry.all")
    all.toMap
  }

  /** One query of each module, each with a DuckDB oracle, none of the
    * heaviest: a pass takes about ten seconds on four cores. Several of
    * them leave persisted blocks behind.
    */
  val chosen: Seq[String] = Seq(
    "q50_tpch_q9", "gr2_triangles", "search4_chunk_bm25", "pk1_pack_sequences",
    "dd3_minhash_lsh", "sim9_incremental_ann", "sim17_from_store", "mm8_phash_neardup",
    "ev3_session_window", "q23_asof_join", "q24_salted_agg", "w2_dim_visitor")
}
