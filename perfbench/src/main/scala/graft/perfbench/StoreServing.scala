package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators.{Similarity, TextOps, TrainPrep, VecStore}
import graft.sources.Snapshots

/** Serving from the published RAG and vector stores while writes land
  * beside the reads. The timed loop runs whole cycles: `perKind` text and
  * `perKind` vector requests in a seed-shuffled order, then one RAG advance
  * and one vector advance of `batch` new items each from the generated
  * pools. Requests are the ops; the advances ride the loop's wall time. A
  * request collects its rows (at most a few hundred), so the outputs of the
  * timed requests themselves are checked. Set-up serves `setupRequests`
  * untimed requests of each kind: without them the timed requests sit on
  * the JIT warm-up curve, and fall about 40% over the first thirty requests
  * of a session.
  */
final class StoreServing(c: Ctx) extends Workload {
  import StoreServing._

  private val rng = new scala.util.Random(c.seed)
  private val rag = s"${c.work}/rag_store"
  private val vec = s"${c.work}/vec_store"
  private var ragV0 = 0L
  private var vecV0 = 0L
  /** The rows of every set-up request of each kind, at the publish version. */
  private var atPublish = Map[String, Seq[Seq[Row]]]()
  /** Each timed request: (op id, cycle, kind, rows). */
  private val served = scala.collection.mutable.ArrayBuffer[(Int, Int, String, Seq[Row])]()
  /** The advance pools: `batches` batches of `batch` ids from `idBase`. */
  private lazy val pool = c.manifest.get("pool")
  private lazy val batch = pool.get("batch").asLong
  private lazy val idBase = pool.get("id_base").asLong
  /** Cycles a run may take; the last batch is the set-up advance. */
  private lazy val cycles = pool.get("batches").asInt - 1
  private lazy val advDocs = c.spark.read.parquet(s"${c.data}/advance_docs.parquet")
  private lazy val advVecs = Similarity.labeledVectors(c.spark, s"${c.data}/advance_pool")
  private var cycle = 0

  private def text(): DataFrame = TextOps.search7FromStore(c.spark, rag)
  private def vector(): DataFrame = VecStore.sim17FromStore(c.spark, c.data, vec)
  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** For each store, side by side: publish it, serve its request kind
    * `setupRequests` times at the publish version, `setupThreads` at a time
    * (the rows are kept for the twin check), and advance it once, so the
    * timed loop starts warm on both the read and the write side. Phase times
    * go to the artifact.
    */
  def prepare(): Unit = {
    val phases = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    def timed[A](name: String)(body: => A): A = {
      val t0 = c.rec.now()
      try body finally phases.put(name, c.rec.now() - t0)
    }
    def side(kind: String, publish: => Long, serve: () => Seq[Row], advance: => Long) =
      () => {
        val v0 = timed(s"publish_$kind")(publish)
        val setup = timed(s"serve_$kind")(c.inParallel(setupThreads,
          Seq.fill(setupRequests)(serve)))
        timed(s"advance_$kind")(advance)
        (v0, setup)
      }
    val Seq((r, textRows), (v, vecRows)) = c.concurrently(
      side("text", TrainPrep.publishRagStore(c.spark, c.data, rag), () => rows(text()),
        advanceRag(cycles)),
      side("vector", VecStore.publish(c.spark, c.data, vec), () => rows(vector()),
        advanceVec(cycles)))
    ragV0 = r
    vecV0 = v
    atPublish = Map("text" -> textRows, "vector" -> vecRows)
    c.extras("setup_phases") = scala.jdk.CollectionConverters.MapHasAsScala(phases).asScala.toMap
  }

  /** Batch `k` of a pool: ids [base + k·batch, base + (k+1)·batch). */
  private def slice(df: DataFrame, id: String, k: Int): DataFrame =
    df.filter(col(id) >= idBase + k * batch && col(id) < idBase + (k + 1) * batch)

  private def advanceRag(k: Int): Long =
    TrainPrep.advanceRagStore(c.spark, slice(advDocs, "doc_id", k), rag)
  private def advanceVec(k: Int): Long =
    VecStore.advance(c.spark, slice(advVecs, "vec_id", k), vec)

  def run(deadline: Double): Unit =
    while (c.rec.now() < deadline && cycle < cycles) {
      rng.shuffle(Seq.fill(perKind)("text") ++ Seq.fill(perKind)("vector")).foreach { k =>
        val id = c.rec.ops.size
        c.rec.op(k)(c.rec.span(s"serve.$k")(rows(if (k == "text") text() else vector())))
          .foreach(r => served += ((id, cycle, k, r)))
        c.storageAfter(id)
      }
      c.rec.span("advance.rag")(advanceRag(cycle))
      c.rec.span("advance.vec")(advanceVec(cycle))
      cycle += 1
    }

  private def depth(root: String): Int =
    Snapshots.layerReport(c.spark, root).map(_._2).foldLeft(0)(math.max)

  private def mb(root: String): Double = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(c.sc.hadoopConfiguration).getContentSummary(p).getLength / 1e6
  }

  def finish(): Unit = {
    c.extras("advances") = cycle
    if (c.rec.tracing) {
      c.extras("depth_rag") = depth(rag)
      c.extras("depth_vec") = depth(vec)
      c.extras("snapshots_mb") = mb(rag) + mb(vec)
      val t0 = c.rec.now()
      c.extras("recall") = VecStore.recallProbe(c.spark, vec, sampleN = 64)
      c.extras("recall_probe_s") = c.rec.now() - t0
    }
    // every request of a kind within one cycle (one store version) returns
    // the same rows; at the publish version every set-up request of a kind
    // (run side by side) equals its registry twin
    for (((cyc, kind), rs) <- served.groupBy(r => (r._2, r._3)))
      c.check(s"${kind}_repeatable_cycle_$cyc",
        rs.forall(_._4 == rs.head._4) && rs.head._4.nonEmpty,
        s"${rs.size} requests, ${rs.map(_._4).distinct.size} distinct results", rs.map(_._1).toSeq)
    val Seq(textTwin, vecTwin) = c.concurrently(
      () => rows(SparkEntry.queries("search7_rag_context")(c.spark, c.data)),
      () => rows(SparkEntry.queries("sim17_filtered_residual")(c.spark, c.data)))
    for ((kind, twin) <- Seq("text" -> textTwin, "vector" -> vecTwin)) {
      val setup = atPublish(kind)
      // the timed requests of a kind run the code path the twin checks
      c.check(s"${kind}_twin_at_publish", setup.forall(_ == twin) && twin.nonEmpty,
        s"${setup.count(_ == twin)} of ${setup.size} set-up requests equal the twin's " +
          s"${twin.size} rows", c.rec.ops.filter(_.kind == kind).map(_.id).toSeq)
    }
    c.extras("publish_versions") = Map("rag" -> ragV0, "vec" -> vecV0)
  }
}

object StoreServing {
  /** Requests of each kind per cycle: an advance every eight requests. */
  val perKind = 4
  val setupRequests = 6
  val setupThreads = 2
}
