package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.{CommitLock, Snapshots}

/** The PUBLISHED trained vector index — the production vector-DB
  * posture the in-plan IVFPQ/IVFADC twins (sim14/sim16/sim17,
  * [[Similarity.ivfpqVariant]]) demonstrate per query but deliberately
  * re-train inside every invocation: at 100 TB a vector index is
  * trained ONCE, committed as a versioned artifact, served with a plan
  * that contains zero Lloyd rounds, advanced incrementally against the
  * PINNED quantizers, and erased at takedown. This object closes that
  * loop with the same machinery the BM25+IVF RAG store already uses
  * ([[graft.sources.Snapshots]] versioning, [[CommitLock]] leases,
  * tombstone re-entry guards, all-Full chain-cut erasures):
  *
  *  - [[publish]]: train sim16/sim17's full stack (trained coarse
  *    quantizer, residual PQ codebooks, label co-keyed codes) via
  *    [[Similarity.trainIvfpq]] and commit the seven-table store;
  *  - [[sim16FromStore]]/[[sim17FromStore]]: the serving twins — probe
  *    + LUT + ADC + rerank ([[Similarity.serveIvfpq]]) over the
  *    parquet-loaded artifacts, bit-equal to the in-plan queries (both
  *    are oracle-gated with the SAME DuckDB SQL as their twins);
  *  - [[advance]]: fold new vectors in — assigned to the STORED
  *    centroids, encoded against the STORED codebooks, committed as
  *    Append deltas (freshness between retrains, the IVF
  *    grow-until-retrain contract; [[publish]] is the retrain);
  *  - [[takedown]]: all-Full chain-cut rewrite without the doomed
  *    vec_ids + tombstone registration, so vacuum can physically
  *    reclaim and a replayed advance cannot resurrect them;
  *  - [[verifyErasure]]: the evidence table — per-table residue at
  *    serving latest AND per retained version (audit set DERIVED from
  *    each version's own surface: every table carrying a vec_id
  *    column), plus tombstone coverage.
  *
  * Store layout (one [[Snapshots]] root):
  *   vec_cent       (cid, vc, nc)                 trained coarse centroids
  *   vec_pq         (j, code, cv, cn, cidx)       per-subspace PQ codebooks
  *   vec_codes      (vec_id, cd[8], cell, lbl)    8-byte codes, (cell,lbl) co-keyed
  *   vec_vecs       (vec_id, v, nrm, cell, lbl)   full-vector rerank side
  *   vec_hist       (lbl, cnt)                    label histogram (probe widening)
  *   vec_params     (n_corpus, k_ivf, nprobe)     probe formulas, pinned at train
  *   vec_tombstones (vec_id)                      erased-id re-entry guard
  *
  * 100 TB layout: BOTH corpus-sized tables land range-partitioned and
  * sorted cell-first — vec_codes by (cell, lbl, vec_id), vec_vecs by
  * (cell, vec_id) — and the serve collects the batch's ≤k distinct
  * probed cells ONCE and pushes them as a literal IN predicate into
  * BOTH scans ([[Similarity.serveIvfpq]]'s pushProbedCells): every
  * rerank candidate is by construction a member of a probed cell, so
  * the rerank fetch of the full-vector table (the store's DOMINANT
  * table — ~64× the code bytes) prunes to the probed cells' row
  * groups exactly like the code scan, instead of reading every row
  * group through a shuffle join. A plain join alone cannot prune row
  * groups; the literal set is the join's own key set, so the filter
  * is pure pruning. The quantizer tables are request-small and broadcast. One
  * store serves BOTH the unfiltered (sim16) and label-filtered (sim17)
  * configurations — the label is a co-key the unfiltered probe simply
  * does not join on.
  *
  * MEASURED (ScaleProbe `prod:vecstore` arm, last at commit 561c6b9;
  * sf0.1 base, warm, r18 final
  * capture on stores REBUILT with this layout — the probe cache is
  * versioned precisely so serve numbers can never ride a stale
  * pre-(cell,vec_id) store; 10× = store built on the 10×-replicated
  * corpus, SAME fixed sf0.1 batch, probed-cell literals pushed into
  * BOTH corpus-table scans): the request-shaped serve is FLAT in
  * store size — 64 fixed queries: sim16 1.42 s at 1× vs 1.52 s at
  * 10×, sim17 1.51 / 1.72 s (their probed-cell set is a bounded
  * fraction of k, so both sorted tables prune to the probed row
  * groups). The full-sf batch (12k queries — 20% of the corpus,
  * probing EVERY cell, so the literal set covers the whole table and
  * the scans are asymptotically corpus-sized) ALSO measures flat at
  * these scales — sim16 rederive 6.95 s vs from-store 1.84 / 1.95 s,
  * sim17 6.30 vs 2.50 / 2.03 s — the cell-clustered layout keeps the
  * all-cells join cheap, though at a 1000× store the full-batch serve
  * would honestly grow with the scanned cells where the 64-query
  * shape would not. Advance (fixed 20-vector batch): 2.65 / 2.13 s —
  * FLAT. Recall probe (64-query sample vs exact truth): 2.75 /
  * 3.17 s — near-flat, the corpus-linear exact side visible but tiny.
  * Republish: 6.86 / 12.55 s — O(store) HONESTLY (a republish IS a
  * full retrain + rewrite; the probe is what keeps it nightly-rare).
  * Takedown+vacuum+evidence: 3.32 / 3.95 s, evidence clean at both
  * scales (the all-Full rewrite is O(store) by design; at these
  * scales fixed costs dominate).
  *
  * Degenerate corpus (ScaleProbe `skew:vecstore` arm, last at commit
  * 561c6b9; one tight blob plus a 1-in-300 label, served from the
  * committed store): publish 13.3 / 20.7 s at 1× / 10× (the collapsed
  * Lloyd paid once), serve 4.13 / 7.32 s vs 9.0 / 37.6 s for the
  * in-plan sim17 — store-served output bit-equal to the in-plan twin.
  */
object VecStore {

  /** The batch/corpus split convention the sim queries share. */
  private val isNew = col("vec_id") % 5 === 0

  /** Train sim16/17's full stack once and commit it as the versioned
    * seven-table store. Deliberately ALL-FULL ([[Snapshots.writeTables]]):
    * the publish IS the retrain/chain-cut — after it, vacuum can
    * reclaim every pre-publish version (the RAG store's rebuild rule).
    * Returns the committed version.
    */
  def publish(s: SparkSession, d: String, root: String): Long = {
    val e = Similarity.labeledVectors(s, d).localCheckpoint()
    try publishFrom(s, e.filter(!isNew), root)
    finally e.unpersist(blocking = false)
  }

  /** [[publish]] over an explicit labeled corpus frame
    * (vec_id, v, nrm, lbl) — the form probes and re-publishes use.
    * `tombstones` carries an EXISTING registry forward (a
    * [[republish]]): a first publish starts empty, but a rebuild of a
    * live store must never reset the re-entry guard — the day it does,
    * a replayed pre-takedown [[advance]] resurrects erased vectors.
    */
  private[graft] def publishFrom(s: SparkSession, corpus: DataFrame,
      root: String, tombstones: Option[DataFrame] = None): Long = {
    val idx = Similarity.trainIvfpq(corpus, Similarity.pqIters,
      residual = true, coarseIters = Similarity.pq16CoarseIters,
      withLabel = true)
    // fail LOUDLY on an empty corpus instead of committing a store with
    // zero trained centroids: such a store would silently DROP every
    // later [[advance]] batch (the assignment cross-join against an
    // empty centroid broadcast yields nothing) while still advancing
    // n_corpus — a quiet data-loss seam, reachable via a republish
    // after a takedown of every vector. The check is free: the trainer
    // already counted the corpus.
    require(idx.nCorpus > 0L,
      s"refusing to publish an EMPTY vector store at $root — no corpus " +
        "rows to train on (a store whose every vector was taken down " +
        "cannot republish; re-publish from a non-empty corpus instead)")
    CommitLock.withLock(s, root) {
      Snapshots.writeTables(storeTables(s, idx, tombstones), root)
    }
  }

  /** The seven-table layout one trained index commits — ONE assembly
    * shared by first publish and [[republish]] so the sort conventions
    * (codes by (cell, lbl, vec_id), vectors by (cell, vec_id) — the
    * probed-cell row-group pruning both serving scans rely on) can
    * never diverge between the two writers. `conform` hooks each
    * table's frame before layout (identity at first publish; the
    * stored-schema conformance at republish).
    */
  private def storeTables(s: SparkSession, idx: Similarity.IvfpqIndex,
      tombstones: Option[DataFrame],
      conform: (DataFrame, String) => DataFrame = (df, _) => df)
      : Seq[(String, DataFrame)] = Seq(
    "vec_cent" -> conform(idx.cent, "vec_cent"),
    "vec_pq" -> conform(idx.pqcent, "vec_pq"),
    "vec_codes" -> conform(idx.codes, "vec_codes")
      .repartitionByRange(col("cell"), col("lbl"))
      .sortWithinPartitions("cell", "lbl", "vec_id"),
    "vec_vecs" -> conform(idx.vecs, "vec_vecs")
      .repartitionByRange(col("cell"), col("vec_id"))
      .sortWithinPartitions("cell", "vec_id"),
    "vec_hist" -> conform(idx.hist.get, "vec_hist"),
    "vec_params" -> conform(s.range(1).select(
      lit(idx.nCorpus).as("n_corpus"),
      lit(idx.kIvf).as("k_ivf"),
      lit(idx.nprobe).as("nprobe")), "vec_params"),
    "vec_tombstones" -> conform(tombstones.getOrElse(
      s.range(0).select(col("id").as("vec_id"))), "vec_tombstones"))

  /** RETRAIN the published store FROM ITS OWN LATEST SURFACE — the
    * quality-maintenance path the [[advance]] contract defers to
    * ("freshness, not retraining; the nightly re-publish is the
    * retrain"): re-run the full trainer over the live corpus (latest
    * vec_vecs — advances already folded in, erased ids already
    * anti-joined out) so the coarse cells and PQ codebooks finally SEE
    * the vectors that until now were force-fitted to stale quantizers,
    * restoring recall to the trained floor. All-Full chain-cut like
    * [[publish]], so vacuum reclaims the pre-retrain history — but the
    * tombstone registry is carried FORWARD, never reset: a replayed
    * pre-takedown advance still commits nothing after any number of
    * republishes. Every rebuilt table CONFORMS to its stored schema
    * (the [[advance]] conformTo contract at the rebuild grain): a
    * forward-migrated column survives the retrain null-filled with a
    * signalled `SchemaDrift` and a `vec_store_republish` run-log row —
    * never silently vanishes — and this matters precisely because the
    * nightly `vecRecall` retention leg can fire a republish
    * unattended. The whole read-train-commit runs under the store's
    * commit lease (re-entrant), so a concurrent advance cannot land
    * between the surface read and the rewrite and be silently dropped.
    * Returns the committed version. Scale: the trainer's own posture —
    * bounded-sample Lloyd (md5-ordered sample, budget-capped),
    * broadcast centroids, codegen'd assignment over ONE corpus pass.
    */
  def republish(s: SparkSession, root: String,
      runLogPath: Option[String] = None): Long =
    CommitLock.withLock(s, root) {
      val v0 = Snapshots.latestVersion(s, root).getOrElse(
        throw new IllegalStateException(s"no committed vector store under $root"))
      def stored(t: String) = Snapshots.readTable(s, root, t, Some(v0))
      val idx = Similarity.trainIvfpq(
        stored("vec_vecs").select("vec_id", "v", "nrm", "lbl"),
        Similarity.pqIters, residual = true,
        coarseIters = Similarity.pq16CoarseIters, withLabel = true)
      require(idx.nCorpus > 0L,
        s"refusing to publish an EMPTY vector store at $root — no corpus " +
          "rows to train on (a store whose every vector was taken down " +
          "cannot republish; re-publish from a non-empty corpus instead)")
      val drifts = scala.collection.mutable.Buffer[TrainPrep.SchemaDrift]()
      val onDrift: TrainPrep.SchemaDrift => Unit = dr => {
        drifts += dr
        System.err.println(s"graft vec republish [${dr.table}]: ${dr.describe}")
      }
      val storedNames = Snapshots.tableNames(s, root, v0).toSet
      val v = Snapshots.writeTables(storeTables(s, idx,
        Some(stored("vec_tombstones")),
        conform = (df, t) =>
          if (storedNames.contains(t))
            TrainPrep.conformTo(df, stored(t).schema, t, onDrift,
              fullRewrite = true)
          else df), root)
      TrainPrep.logDrifts(s, runLogPath, "vec_store_republish", drifts.toSeq)
      v
    }

  /** The pinned index of `root` at `version` (default committed
    * latest), as the serving-side artifact bundle. Three request-small
    * quantizer/param reads + lazy parquet relations for the two
    * corpus-sized tables — no training anywhere downstream.
    */
  private[graft] def loadIndex(s: SparkSession, root: String,
      version: Option[Long] = None): Similarity.IvfpqIndex = {
    val pin = version.orElse(Snapshots.latestVersion(s, root)).getOrElse(
      throw new IllegalStateException(s"no committed vector store under $root"))
    def t(n: String) = Snapshots.readTable(s, root, n, Some(pin))
    val p = t("vec_params").collect().head
    Similarity.IvfpqIndex(
      cent = t("vec_cent"), pqcent = t("vec_pq"),
      codes = t("vec_codes"), vecs = t("vec_vecs"),
      hist = Some(t("vec_hist")),
      nCorpus = p.getAs[Long]("n_corpus"),
      kIvf = p.getAs[Int]("k_ivf"),
      nprobe = p.getAs[Int]("nprobe"))
  }

  // ------------------------------------------------------- serving twins

  /** sim16 SERVED FROM THE PUBLISHED STORE: identical output to the
    * in-plan sim16_residual_pq (same oracle SQL gates both), but the
    * plan reads the trained artifacts from parquet — zero Lloyd rounds,
    * zero corpus encodes. The label co-key is simply not joined on.
    * The batch frame is deliberately NOT checkpointed: it is a small
    * pushed-down parquet read, and a long-lived serving process calling
    * this per request must not strand a storage block per call.
    */
  private[graft] def sim16FromStore(s: SparkSession, d: String,
      root: String): DataFrame =
    Similarity.serveIvfpq(
      Similarity.scaledVectors(s, d).filter(isNew),
      loadIndex(s, root), Similarity.pq16Pool, residual = true,
      coarseTrained = true, filteredByLabel = false, filterWiden = true,
      pushProbedCells = true)

  /** sim17 (filtered residual — the production vector-DB configuration)
    * served from the SAME published store: the (cell, lbl) candidate
    * join prunes in the stored code table's sort order. Un-checkpointed
    * batch, like [[sim16FromStore]].
    */
  private[graft] def sim17FromStore(s: SparkSession, d: String,
      root: String): DataFrame =
    Similarity.serveIvfpq(
      Similarity.labeledVectors(s, d).filter(isNew),
      loadIndex(s, root), Similarity.pq16Pool, residual = true,
      coarseTrained = true, filteredByLabel = true, filterWiden = true,
      pushProbedCells = true)

  /** One published store per (process, sf dir) for the registry's
    * FromStore queries — built on first use, reused by both serving
    * twins and every later pass (which is exactly the point: the bench
    * measures SERVING a committed index, the way a production store is
    * actually hit; the one-time build is [[publish]]'s own job).
    */
  private val builtFor =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def storeFor(s: SparkSession, d: String): String =
    builtFor.computeIfAbsent(d, _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_vecstore").toString + "/v"
      publish(s, d, root)
      root
    })

  // --------------------------------------------------------- advance

  /** INCREMENTAL ADVANCE — fold a batch of NEW vectors
    * (vec_id, v, nrm, lbl) into the published store: assigned to the
    * PINNED stored centroids and encoded against the PINNED codebooks
    * (exactly the build's argmins — [[Similarity.trainIvfpq]]'s
    * assignment and code stages re-run over the batch alone), then
    * committed as Append deltas keeping the store's sort conventions;
    * centroids/codebooks Carry, the 1-row params and the label
    * histogram write Full. Honest contract, the RAG store's twin:
    * FRESHNESS, not retraining — cells and codebooks stay the last
    * [[publish]]'s, so recall drifts as the corpus grows and the
    * nightly re-publish remains the quality-maintenance path. Guards:
    * intra-batch id dedup (deterministic winner), then ONE anti-join
    * against the unioned guard frame (tombstone registry ∪ indexed
    * ids) — an erased id cannot re-enter via an at-least-once replay,
    * and a replayed batch commits nothing. Scale: O(batch·k) codegen'd
    * dots against broadcast centroids + O(batch·m·64) code argmins;
    * O(batch) committed bytes. Returns the committed version (the
    * prior version when nothing is new).
    */
  def advance(s: SparkSession, batch: DataFrame, root: String,
      runLogPath: Option[String] = None): Long =
    CommitLock.withLock(s, root) {
      import Snapshots.{Append, Carry, Full, TableSpec}
      val dot = graft.functions.VectorFunctions.dotLong _
      val v0 = Snapshots.latestVersion(s, root).getOrElse(
        throw new IllegalStateException(s"no committed vector store under $root"))
      def stored(t: String) = Snapshots.readTable(s, root, t, Some(v0))
      // intra-batch dedup: one deterministic winner per vec_id — a
      // TOTAL row ordering over every non-key column (the
      // TrainPrep.dedupBatchIds rule; arrays are orderable), so even a
      // contract-violating producer shipping equal (lbl, v) with
      // inconsistent nrm converges on the same winner every replay
      val wId = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("lbl"), col("v"), col("nrm"))
      val guardIds = stored("vec_tombstones").select("vec_id")
        .unionByName(stored("vec_vecs").select("vec_id"))
      val fresh = batch
        .withColumn("_rk", row_number().over(wId))
        .filter(col("_rk") === 1).drop("_rk")
        .join(guardIds, Seq("vec_id"), "left_anti")
        .localCheckpoint()
      try {
        if (fresh.isEmpty) return v0
        val cent = stored("vec_cent")
        val pqcent = stored("vec_pq")
        // assignment to the PINNED centroids — the build's trained-L2
        // argmin ([[Similarity.trainIvfpq]]'s wAssign at coarseIters>0)
        val wAssign = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("cdist").asc, col("cid").asc)
        val assigned = fresh.crossJoin(broadcast(cent))
          .withColumn("cdist",
            col("nc") - lit(2L) * dot(col("v"), col("vc")))
          .withColumn("arn", row_number().over(wAssign))
          .filter(col("arn") === 1)
          .select(col("vec_id"), col("v"), col("nrm"),
            col("cid").as("cell"), col("vc"), col("lbl"))
          .localCheckpoint()
        try {
          // residual encode against the PINNED codebooks — the build's
          // (d2, cidx) argmin over the batch's subvectors alone
          val subv = assigned
            .select(col("vec_id"),
              zip_with(col("v"), col("vc"), (a, b) => a - b).as("r"))
            .select(col("vec_id"),
              explode(Similarity.subCols(col("r"))).as("x"))
            .select(col("vec_id"), col("x.j").as("j"), col("x.sv").as("sv"))
          val codesDelta = subv.join(broadcast(pqcent), Seq("j"))
            .withColumn("d2",
              col("cn") - lit(2L) * dot(col("sv"), col("cv")))
            .groupBy("vec_id", "j")
            .agg(min(struct(col("d2"), col("cidx"))).as("b"))
            .groupBy("vec_id")
            .agg(array_sort(collect_list(
              struct(col("j"), col("b.cidx").as("ci")))).as("z"))
            .select(col("vec_id"),
              transform(col("z"), p => p.getField("ci")).as("cd"))
            .join(assigned.select("vec_id", "cell", "lbl"), "vec_id")
          val vecsDelta = assigned
            .select("vec_id", "v", "nrm", "cell", "lbl")
          val dHist = fresh.groupBy("lbl").agg(count(lit(1)).as("dc"))
          val hist = stored("vec_hist")
            .join(dHist, Seq("lbl"), "full_outer")
            .select(col("lbl"),
              (coalesce(col("cnt"), lit(0L)) +
                coalesce(col("dc"), lit(0L))).as("cnt"))
          val dN = fresh.count()
          // n_corpus advances (the widening formula tracks the live
          // corpus); k_ivf/nprobe stay PINNED at the last publish —
          // freshness, not retraining
          val params = stored("vec_params").select(
            (col("n_corpus") + lit(dN)).as("n_corpus"),
            col("k_ivf"), col("nprobe"))
          // every Append delta CONFORMS to its base's stored schema
          // and the recomputed-Full tables conform too (the pack/RAG
          // advancers' evolution contract, same machinery): a vec
          // store migrated forward by an upgraded engine still accepts
          // this advance — the migrated column null-fills for the
          // delta's rows, drift is signalled, a lossy type mismatch
          // fails loudly instead of landing a corrupt layer
          val drifts = scala.collection.mutable.Buffer[TrainPrep.SchemaDrift]()
          val onDrift: TrainPrep.SchemaDrift => Unit = dr => {
            drifts += dr
            System.err.println(s"graft vec advance [${dr.table}]: ${dr.describe}")
          }
          def conform(df: DataFrame, t: String, full: Boolean = false) =
            TrainPrep.conformTo(df, stored(t).schema, t, onDrift,
              fullRewrite = full)
          val v = Snapshots.writeTablesSpec(s, Seq(
            "vec_cent" -> (Carry(v0): TableSpec),
            "vec_pq" -> Carry(v0),
            "vec_codes" -> Append(v0, conform(codesDelta, "vec_codes")
              .repartitionByRange(col("cell"), col("lbl"))
              .sortWithinPartitions("cell", "lbl", "vec_id")),
            "vec_vecs" -> Append(v0, conform(vecsDelta, "vec_vecs")
              .repartitionByRange(col("cell"), col("vec_id"))
              .sortWithinPartitions("cell", "vec_id")),
            "vec_hist" -> Full(conform(hist, "vec_hist", full = true)),
            "vec_params" -> Full(conform(params, "vec_params", full = true)),
            "vec_tombstones" -> Carry(v0)), root)
          // the owed-migration signal persists next to the run history,
          // exactly like the pack/RAG advancers' trail
          TrainPrep.logDrifts(s, runLogPath, "vec_store_advance",
            drifts.toSeq)
          v
        } finally assigned.unpersist(blocking = false)
      } finally fresh.unpersist(blocking = false)
    }

  // ----------------------------------------------------- recall probe

  /** RECALL-DRIFT MONITOR on the published store — the observable the
    * [[advance]] contract owes: cells and codebooks stay pinned between
    * retrains, so recall DRIFTS as advances accumulate, and the nightly
    * [[republish]] decision needs a measured number, not a guess
    * (sim6_mp_recall's oracle-gated pattern, run against the LIVE
    * artifact). A deterministic bounded sample of STORED vectors
    * (md5-ordered — the trainer's own sampling rule) self-queries the
    * store through the REAL serving path ([[Similarity.serveIvfpq]],
    * probed-cell pushdown included) and is compared against the exact
    * brute-force top-3 over the full vector table. Returns
    * recall@3 ∈ [0,1] (self-hits included on both sides — a stored
    * query always finds itself, so 1/3 is the structural floor) and,
    * when `runLogPath` is given, appends ONE `vec_store_recall` row
    * with the measured value in e6 fixed-point — the run-history trail
    * a retrain trigger (recall < SLA) reads. `rerankPool` defaults to
    * the serving pool; a smaller pool sharpens the probe's sensitivity
    * to code-book staleness (the exact rerank otherwise masks ADC
    * misranking until the pool overflows).
    * Scale: O(sampleN·k) probing + the probed cells' codes for the
    * approximate side; ONE full-vector corpus pass against the
    * broadcast ≤sampleN-row sample for the exact side — the probe is
    * corpus-linear with a tiny constant, run nightly, never per query.
    */
  def recallProbe(s: SparkSession, root: String, sampleN: Int = 64,
      rerankPool: Int = Similarity.pq16Pool,
      runLogPath: Option[String] = None,
      runTs: java.sql.Timestamp = new java.sql.Timestamp(
        System.currentTimeMillis())): Double = {
    require(sampleN >= 1, "recallProbe needs a non-empty sample")
    val t0 = System.nanoTime()
    val dot = graft.functions.VectorFunctions.dotLong _
    val idx = loadIndex(s, root)
    val sample = idx.vecs
      .select(col("vec_id"), col("v"), col("nrm"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(sampleN).localCheckpoint()
    try {
      // the pushdown serve returns an EAGER checkpoint — consumed here
      // and released in finally (the probe is the serving path's own
      // no-stranded-blocks contract applied to itself)
      val served = Similarity.serveIvfpq(sample, idx, rerankPool,
        residual = true, coarseTrained = true, filteredByLabel = false,
        filterWiden = true, pushProbedCells = true)
      try {
        val approx = served.select(col("qid"), col("nbr"))
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("cos").desc, col("nbr"))
        val exact = idx.vecs
          .select(col("vec_id").as("nbr"), col("v").as("vb"),
            col("nrm").as("nb"))
          .crossJoin(broadcast(sample.select(col("vec_id").as("qid"),
            col("v").as("va"), col("nrm").as("na"))))
          .withColumn("cos",
            dot(col("va"), col("vb")).cast("double") /
              (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .withColumn("rnk", row_number().over(wr))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("nbr"))
          .localCheckpoint()
        try {
          val total = exact.count()
          val hits = approx.join(exact, Seq("qid", "nbr"), "left_semi").count()
          val recall = if (total == 0L) 1.0 else hits.toDouble / total
          // the trail row: rows = recall in e6 fixed point; `error`
          // stays EMPTY on ok rows (the trail convention — a monitor
          // filtering on non-empty error must never false-positive on
          // a healthy observation)
          runLogPath.foreach(p => graft.sources.RunLog.append(s, p, Seq(
            graft.sources.RunLog.entry(runTs, "vec_store_recall",
              "recall_probe", math.round(recall * 1e6), t0))))
          recall
        } finally exact.unpersist(blocking = false)
      } finally served.unpersist(blocking = false)
    } finally sample.unpersist(blocking = false)
  }

  // --------------------------------------------------------- takedown

  /** All the store's table names — the coverage contract a takedown
    * rewrite asserts against the pinned version (the
    * `assertCoversStore` rule: silently dropping a table out of latest
    * is the failure mode, a loud error the fix).
    */
  private val AllTables = Seq("vec_cent", "vec_pq", "vec_codes",
    "vec_vecs", "vec_hist", "vec_params", "vec_tombstones")

  /** ERASE `vecIds` from the published store: one all-Full chain-cut
    * commit (never Carry/Append — after a takedown no new version may
    * reference a pre-purge version, so [[Snapshots.vacuum]] can
    * physically reclaim the erased bytes), with the doomed ids
    * anti-joined out of the code and vector tables, the histogram and
    * corpus count recomputed from the survivors (k_ivf/nprobe stay
    * pinned — an erasure is not a retrain), and the ids registered in
    * the tombstone table so a replayed [[advance]] of pre-takedown
    * inputs cannot resurrect them. Covers every table of the pinned
    * version by construction (asserted). Returns the committed version.
    */
  def takedown(s: SparkSession, vecIds: Seq[Long], root: String): Long = {
    require(vecIds.nonEmpty, "a takedown needs at least one vec id")
    import s.implicits._
    CommitLock.withLock(s, root) {
      val v0 = Snapshots.latestVersion(s, root).getOrElse(
        throw new IllegalStateException(s"no committed vector store under $root"))
      def stored(t: String) = Snapshots.readTable(s, root, t, Some(v0))
      val atV0 = Snapshots.tableNames(s, root, v0).toSet
      require(atV0 == AllTables.toSet,
        s"vec takedown covers ${AllTables.sorted.mkString(",")} but _v=$v0 " +
          s"holds ${atV0.toSeq.sorted.mkString(",")} — teach the rewrite " +
          "the new table before erasing")
      val ids = vecIds.toDF("vec_id")
      val vecs1 = stored("vec_vecs")
        .join(ids, Seq("vec_id"), "left_anti").localCheckpoint()
      try {
        val codes1 = stored("vec_codes").join(ids, Seq("vec_id"), "left_anti")
        val hist1 = vecs1.groupBy("lbl").agg(count(lit(1)).as("cnt"))
        val params1 = stored("vec_params").select(
          lit(vecs1.count()).as("n_corpus"), col("k_ivf"), col("nprobe"))
        val tomb1 = stored("vec_tombstones")
          .unionByName(ids).distinct()
        Snapshots.writeTables(Seq(
          "vec_cent" -> stored("vec_cent"),
          "vec_pq" -> stored("vec_pq"),
          "vec_codes" -> codes1
            .repartitionByRange(col("cell"), col("lbl"))
            .sortWithinPartitions("cell", "lbl", "vec_id"),
          "vec_vecs" -> vecs1
            .repartitionByRange(col("cell"), col("vec_id"))
            .sortWithinPartitions("cell", "vec_id"),
          "vec_hist" -> hist1,
          "vec_params" -> params1,
          "vec_tombstones" -> tomb1), root)
      } finally vecs1.unpersist(blocking = false)
    }
  }

  /** RETENTION-COMPLETE vec-grain erasure — the one-call loop the
    * doc-side [[graft.sources.Takedown.completeErasure]] runs, for the
    * vector store: [[takedown]] (all-Full chain-cut rewrite + tombstone
    * registration), then [[graft.sources.Snapshots.maintain]] with the
    * SLA's `keep` (the takedown commit is itself the chain cut, so the
    * maintain pass is normally just the vacuum; a post-takedown
    * [[advance]] layering over it is what would make the compact term
    * fire), then a re-audit with [[verifyErasure]]'s per-retained-
    * version layers. One [[graft.sources.RunLog]] row per step
    * (`vec_takedown` / `compact_vec` / `vacuum_vec` / `erasure_audit`,
    * the audit row's `rows` = total residue across all layers — 0 on a
    * compliant completion). `keep = 1` erases history down to the
    * serving version NOW; a larger window may honestly retain a
    * pre-takedown version and the evidence will SAY so rather than
    * bury it. Returns the evidence frame.
    */
  def completeErasure(s: SparkSession, vecIds: Seq[Long], root: String,
      keep: Int = 1, runLogPath: String,
      runTs: java.sql.Timestamp = new java.sql.Timestamp(
        System.currentTimeMillis())): DataFrame = {
    import graft.sources.RunLog
    val t0 = System.nanoTime()
    val pipeline = "vec_takedown_retention"
    RunLog.step[Long](s, runLogPath, runTs, pipeline, "vec_takedown", t0)(identity)(
      takedown(s, vecIds, root))
    val m = RunLog.step[Snapshots.Maintenance](s, runLogPath, runTs, pipeline,
        "compact_vec", t0)(_.compactedTo.getOrElse(0L))(
      Snapshots.maintain(s, root, Int.MaxValue, keep))
    RunLog.append(s, runLogPath, Seq(
      RunLog.entry(runTs, pipeline, "vacuum_vec", m.vacuumed.size.toLong, t0)))
    RunLog.step[DataFrame](s, runLogPath, runTs, pipeline, "erasure_audit", t0)(
        _.agg(sum("rows_remaining")).collect().head.getLong(0))(
      verifyErasure(s, vecIds, root).localCheckpoint())
  }

  /** The erasure EVIDENCE table, `(layer, rows_remaining, clean)` —
    * the vec-grain twin of [[graft.sources.Takedown.verifyErasure]]:
    * per-table residue at the serving latest, tombstone coverage (ids
    * MISSING from the registry — clean ⇔ the re-entry guard holds),
    * and one layer per retained version. The audited table set is
    * DERIVED from each version's own surface (every table whose schema
    * carries a vec_id column, registry excluded) — never a hardcoded
    * list — and the per-version counts memoize per data directory
    * (retained layered versions share chain directories).
    */
  def verifyErasure(s: SparkSession, vecIds: Seq[Long],
      root: String): DataFrame = {
    require(vecIds.nonEmpty, "verifyErasure needs at least one vec id")
    import s.implicits._
    val ids = vecIds.toDF("vec_id").distinct().localCheckpoint()
    try {
      def remaining(df: DataFrame): Long =
        df.select("vec_id").join(ids, Seq("vec_id"), "left_semi").count()
      def idTables(v: Long): Seq[String] =
        Snapshots.tableNames(s, root, v)
          .filterNot(_ == "vec_tombstones")
          .filter(t => Snapshots.readTable(s, root, t, Some(v))
            .schema.fieldNames.exists(_.equalsIgnoreCase("vec_id")))
      val latest = Snapshots.latestVersion(s, root).getOrElse(
        throw new IllegalStateException(s"no committed vector store under $root"))
      val rows =
        idTables(latest).map(t =>
          t -> remaining(Snapshots.readTable(s, root, t, Some(latest)))) ++
        Seq("tombstone_coverage" -> ids.join(
          Snapshots.readTable(s, root, "vec_tombstones", Some(latest)),
          Seq("vec_id"), "left_anti").count()) ++
        // the per-retained-version layers ride the SHARED audit core
        // (one derivation for both grains, probes memoized per dir)
        graft.sources.Takedown.retainedResidueLayers(s, root, ids,
          "vec_id", Set("vec_tombstones"), "vec")
      rows.map { case (layer, n) => (layer, n, n == 0L) }
        .toDF("layer", "rows_remaining", "clean")
    } finally ids.unpersist(blocking = false)
  }

  // --------------------------------------------------------- registry

  val queries: Seq[Q] = Seq(
    Q("sim16_from_store",
      (s, d) => sim16FromStore(s, d, storeFor(s, d)),
      Some(Similarity.sim16Sql)),
    Q("sim17_from_store",
      (s, d) => sim17FromStore(s, d, storeFor(s, d)),
      Some(Similarity.sim17Sql)))
}
