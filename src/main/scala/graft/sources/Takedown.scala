package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A compliance TAKEDOWN end-to-end — the flow a training-data platform
  * runs when a removal request (GDPR erasure, DMCA, opt-out) arrives
  * keyed by document id, composed from the engine's own layers:
  *
  *  1. [[Catalog.purgeKeys]] physically deletes the doc rows from the
  *     maintained documents table (touched-partition rewrite, emptied
  *     partitions dropped);
  *  2. [[graft.operators.TrainPrep.publishRagStoreFrom]] republishes the
  *     RAG index FROM the table's now-purged state as a new atomic
  *     multi-table [[Snapshots]] version — derived artifacts must stop
  *     serving the content, and a rebuild-and-flip is the only delete a
  *     write-audit-publish store admits;
  *  3. one [[RunLog]] row per step (the purge row carries the deleted
  *     count; the publish row is written by publishRagStoreFrom itself,
  *     including its failure path), so the request is answerable from
  *     the job history;
  *  4. the AUDIT: [[Snapshots.diffTable]] between the pre- and
  *     post-takedown index versions, restricted to the purged ids —
  *     the verifiable statement "these chunks left the index", which is
  *     what a compliance response actually has to show.
  *
  * What this deliberately does NOT do: vacuum old snapshot versions
  * (they still contain the content; retention policy decides when
  * [[Snapshots.vacuum]] erases them — a takedown SLA would call it with
  * keep=1 immediately) and packed TRAINING chunks — pk1/pipe5 chunks
  * mix documents, so erasure there is a rebuild of the affected shard
  * suffixes via the pipe5 path, not a row delete: that is
  * [[executeChunks]], run alongside this flow when the warehouse
  * maintains a packed chunk table.
  *
  * Scale: step 1 is purgeKeys' O(touched-partitions) rewrite behind one
  * column-pruned discovery scan; step 2 is pipe6's audited index build
  * (nightly-rebuild cost, probed by ScaleProbe's `prod:search6` arm,
  * last at commit 561c6b9); steps 3–4 are
  * rows-sized. TakedownSpec drives the whole flow through the real
  * operators and pins every contract above.
  *
  * ATOMICITY + CONCURRENCY CONTRACT. Purge and republish are two
  * separate commits, not one transaction: if the republish fails AFTER
  * a successful purge, the source rows are gone but the live index
  * pointer still serves the purged docs' chunks. [[execute]] therefore
  * RETRIES the publish once; if the retry also fails (both failures are
  * in the run log), the caller holds an explicit obligation to re-run
  * the publish — the takedown is NOT compliant at the serving layer
  * until a publish succeeds, and the run log's failed `rag_index` rows
  * are the signal to alert on. Writer exclusivity: the flow inherits
  * [[Catalog.upsert]]/[[Catalog.purgeKeys]]'s no-concurrent-writers
  * contract — do not run a takedown concurrently with a nightly
  * upsert/compaction of the same tables or store; serialize both
  * through one orchestrator slot (the snapshot layer tolerates
  * concurrent publishes, the plain-parquet table layer does not).
  */
object Takedown {

  /** What the flow returns to the requester: rows physically deleted
    * from the documents table, the index version serving AFTER the
    * takedown, the prior version (for the audit window), and the number
    * of the purged docs' chunks that left the index between the two.
    */
  case class Result(deletedRows: Long, ragVersionBefore: Option[Long],
      ragVersionAfter: Long, chunksRemoved: Long)

  def execute(spark: SparkSession, docIds: Seq[Long], docsTable: String,
      partitionBy: Seq[String], ragRoot: String, runLogPath: String,
      runTs: java.sql.Timestamp): Result = {
    require(docIds.nonEmpty, "a takedown needs at least one doc id")
    import spark.implicits._
    val before = Snapshots.latestVersion(spark, ragRoot)
    // step 1 — purge the source of truth (logged with the deleted count;
    // a failed purge logs and aborts BEFORE any index work)
    val deleted = RunLog.step[Long](spark, runLogPath, runTs, "takedown",
        s"purge_$docsTable", System.nanoTime())(identity)(
      Catalog.purgeKeys(spark, docsTable, docIds.toDF("doc_id"), partitionBy))
    // step 2 — republish the index from the purged table's CURRENT state
    // (publishRagStoreFrom writes its own run-log row, ok or failed).
    // One retry: a transient publish failure here leaves the serving
    // index non-compliant (see the atomicity contract above), so the
    // cheap second attempt is taken before surfacing the obligation to
    // the caller — both failures land in the run log if it too dies.
    // the purged ids enter the republished store's TOMBSTONE registry:
    // the incremental advance refuses them, so an at-least-once replay
    // of pre-takedown inputs cannot resurrect this erasure
    val after =
      try graft.operators.TrainPrep.publishRagStoreFrom(
        spark, spark.table(docsTable), ragRoot, Some(runLogPath), runTs,
        addTombstones = docIds)
      catch {
        // NonFatal only: retrying a full index build on an OOMEd or
        // interrupting JVM makes things worse, not compliant. If the
        // retry also fails, the FIRST failure rides along as suppressed
        // (the run log holds both rows either way).
        case scala.util.control.NonFatal(e1) =>
          try graft.operators.TrainPrep.publishRagStoreFrom(
            spark, spark.table(docsTable), ragRoot, Some(runLogPath), runTs,
            addTombstones = docIds)
          catch {
            case scala.util.control.NonFatal(e2) =>
              e2.addSuppressed(e1); throw e2
          }
      }
    // step 4 — the audit: which of the purged docs' chunks left the index
    val removed = before match {
      case Some(v0) =>
        Snapshots.diffTable(spark, ragRoot, "chunklens", v0, after,
            keys = Seq("doc_id", "k"))
          .filter(col("doc_id").isin(docIds: _*) && col("change") === "removed")
          .count()
      case None => 0L // first publish: nothing to diff against
    }
    Result(deleted, before, after, removed)
  }

  /** What the chunk-grain flow returns: manifest rows erased from the
    * pack layout, shards whose chunk suffix was rebuilt, chunk rows
    * re-emitted (upserted), trailing chunk rows deleted because the
    * shard shrank past them, and the pack-store snapshot version now
    * committed (unchanged when the flow was a no-op).
    */
  case class ChunksResult(manifestRowsPurged: Long, shardsTouched: Long,
      chunksRewritten: Long, chunksDeleted: Long, storeVersion: Long)

  /** Erasure at the PACKED-TRAINING-CHUNK grain — the half [[execute]]
    * names out of scope: pipe5's chunks concatenate adjacent documents,
    * so after [[Catalog.purgeKeys]] removes a doc from the corpus its
    * tokens still sit inside the trainer-read chunk table and the pack
    * layout still reserves its span. The only correct delete is the
    * rebuild-and-flip principle at the chunk grain, and this composes it
    * from the engine's own layers:
    *
    *  1. GEOMETRY — from the stored pack manifest (`store_manifest`),
    *     find each purged doc's (shard, start_off). Within a shard,
    *     every chunk strictly below the FIRST purged offset is
    *     bit-identical to a from-scratch pack of the purged corpus
    *     (nothing before it shifts — manifest order is (hkey, doc_id)
    *     and survivors keep their relative order), so the rebuild
    *     region is the per-shard suffix from
    *     `emit_start = (min purged start_off div B)·B` on.
    *  2. REBUILD — survivors of touched shards take
    *     `new_start = start_off − (purged tokens ordered before them)`
    *     (an O(survivors·purged-per-shard) broadcast join against the
    *     request-sized purge list — no full-shard window), and docs
    *     whose span reaches the region re-emit through
    *     [[graft.operators.TrainPrep.shardChunksOf]] — the SAME
    *     materialization pipe5 runs nightly, so the rebuilt suffix is
    *     bit-equal to a from-scratch pack by construction
    *     (TakedownChunksSpec pins it against an actual from-scratch
    *     rebuild).
    *  3. TRIM + UPSERT — the shard now ends earlier: chunk ids past
    *     `(tot0 − purged_tokens − 1) div B` are DELETED from the chunk
    *     table via [[Catalog.purgeKeys]] (keyed (shard, chunk_id) —
    *     latest-wins upsert alone can never retire a vanished key),
    *     then the re-emitted chunks land through [[Catalog.upsert]].
    *     Both touch only the affected shard partitions; untouched
    *     shards keep their files byte-for-byte.
    *  4. STORE REWRITE — the six nightly-prep store tables are brought
    *     to the purged state so the NEXT pipe3/pipe5 run packs against
    *     truth: manifest rows drop the purged docs and survivors carry
    *     the shifted offsets; totals and open-chunk starts recompute
    *     from the new manifest; the MinHash band index and shingle
    *     signatures drop the purged docs' rows (their hashes must not
    *     keep deduplicating future batches against erased content); and
    *     when a doomed id is HELD-OUT, the fingerprint universe
    *     (`test_shingles` — bare hashes, no doc attribution) is
    *     RE-DERIVED from the purged corpus, the only correct erasure at
    *     that layer (dc1/dc2 must stop matching batches against the
    *     erased doc's shingles). All six tables commit as ONE atomic
    *     [[Snapshots.writeTables]] version: a crash anywhere inside the
    *     rewrite leaves the previous version committed and fully
    *     readable, and a RE-RUN of the same takedown converges (every
    *     step reads the PINNED pre-takedown version and the recomputes
    *     are idempotent — TakedownChunksSpec crash-injects exactly
    *     this). Remaining caveat, stated honestly: a band BUCKET that
    *     was dropped at original write for exceeding the store cap
    *     stays dropped even if the purge shrank it below the cap — the
    *     cap is a performance guard, and its rows were never stored to
    *     restore.
    *  5. One [[RunLog]] row per step (failed steps log BEFORE the error
    *     propagates), so the erasure is answerable from job history.
    *
    * Concurrency contract — ENFORCED (r15): the whole flow holds
    * `chunksTable`'s [[CommitLock]] (re-entrantly shared with the
    * trim's purgeKeys and the suffix upsert), so a racing nightly run
    * fails loudly instead of interleaving its overwrite between the
    * trim + upsert pair. (The store itself tolerates concurrent
    * publishes — Snapshots' claim protocol — but a racing nightly store
    * update would still fork the lineage; serialize both schedules.)
    *
    * Scale: everything after the manifest scan is survivor-of-touched-
    * shard- or request-sized; the manifest scan itself is the same
    * 3-int64-column pass pipe5FromStore already pays (a real table
    * format prunes it by shard). The store rewrite emits full new
    * versions of the layout tables here because the store is a
    * snapshot root — in production those could be shard-partitioned
    * catalog tables under a table format, where the rewrite is the
    * same touched-partition dynamic overwrite as step 3 with the
    * format's own commit atomicity. MEASURED (ScaleProbe `prod:chunks`
    * arm, last at commit 561c6b9; warm, r15
    * final surface, same fixed 20-doc takedown incl. a worst-case
    * rebuild-from-shard-head): 7.8/6.7/8.2 s at 1× (sf0.1 store) vs
    * 6.7/7.5 s at 10× store history across repeated captures — FLAT in
    * store size even with 10× the rewritten chunks (53 → 512) and 10×
    * the store tables; the two commit leases plus the range-sorted
    * manifest write add ~1–2 s of fixed cost over the pre-lease
    * versioned capture (5.95/5.31 s) and the r14 flat-overwrite layout
    * (6.17/5.73 s) whose crash window is now closed;
    * [[verifyErasure]]'s evidence table (six layers with the
    * tombstone-coverage guard) measures 1.2–1.7 s at either scale —
    * flat, scan-bound.
    *
    * `failpointBefore` is a TEST-ONLY crash-injection seam: naming a
    * step stage throws before that step runs, simulating a crash
    * between steps (the spec proves old-version readability and re-run
    * convergence through it). Production callers leave it empty.
    */
  def executeChunks(spark: SparkSession, docIds: Seq[Long],
      docsTable: String, storeDir: String, chunksTable: String,
      runLogPath: String, runTs: java.sql.Timestamp,
      failpointBefore: String = ""): ChunksResult = {
    require(docIds.nonEmpty, "a takedown needs at least one doc id")
    import spark.implicits._
    val B = graft.operators.TrainPrep.packBudget
    val t0 = System.nanoTime()
    // each step logs through RunLog.step (millis cumulative from t0); the
    // failpoint throws BEFORE the step runs, so it logs nothing
    def step[T](stage: String)(body: => (T, Long)): T = {
      if (stage == failpointBefore)
        throw new IllegalStateException(s"failpoint: crash before $stage")
      RunLog.step[(T, Long)](spark, runLogPath, runTs, "takedown_chunks",
        stage, t0)(_._2)(body)._1
    }

    // the whole flow runs under the chunk table's COMMIT LOCK
    // (re-entrant: the trim's purgeKeys and the suffix upsert re-enter
    // it on the same thread) — a racing nightly upsert fails loudly
    // instead of interleaving its overwrite between this flow's trim
    // and upsert. Wrapped as a named def so the early no-op returns
    // stay plain method returns.
    def flow(): ChunksResult = {
    // the ENTIRE flow reads one pinned pre-takedown store version: a
    // concurrent publish (or this flow's own commit) can never make two
    // steps see different store states, and a re-run after a mid-flow
    // crash recomputes from the same consistent inputs
    val v0 = Snapshots.latestVersion(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed pack store under $storeDir"))
    def stored(t: String) = Snapshots.readTable(spark, storeDir, t, Some(v0))
    val idsDf = docIds.toDF("doc_id").distinct().localCheckpoint()
    val heldOutDoomed = docIds.exists(graft.operators.TrainPrep.isHeldOutId)
    // the purged corpus for fingerprint re-derivation: anti-join rather
    // than assuming the caller already ran purgeKeys (it is a no-op if
    // the table is already purged — the documented flow order)
    def derivedTestShingles() = graft.operators.TrainPrep.testShinglesOf(
      spark.table(docsTable).join(idsDf, Seq("doc_id"), "left_anti"))
    // every pinned frame unpersists on ALL exits — a long-lived
    // orchestrator looping takedowns (some of which fail) must not
    // accumulate checkpoint blocks (the cliff Session.dropPersisted
    // documents)
    val pinned = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame](idsDf)
    try {
      val sman = stored("store_manifest")
      // the purge list's manifest rows — request-sized, pinned: they
      // drive the geometry, the shift join, and the store rewrite
      val purged = sman.join(idsDf, Seq("doc_id"), "left_semi").localCheckpoint()
      pinned += purged
      val nPurged = purged.count()
      // the TOMBSTONE obligation holds on EVERY path, including the
      // nothing-to-erase ones: the requested ids must be in
      // store_tombstones or a later at-least-once REPLAY of
      // pre-takedown input files re-admits them through advanceStore
      // (the membership guard cannot catch an id the purge removed —
      // or one never ingested at all, which is still a deletion
      // request the ingest side must honor going forward)
      // upgrade tolerance: a pre-registry store reads as an empty
      // registry and this takedown INTRODUCES the table — a compliance
      // flow must run on day one against any committed store
      def storedTombstones() =
        if (Snapshots.tableNames(spark, storeDir, v0).contains("store_tombstones"))
          stored("store_tombstones")
        else spark.range(0).select(col("id").as("doc_id"))
      // lazy: the real purge path never reads it — only the
      // no-op/registry-only branches pay this count
      lazy val missingTomb = idsDf
        .join(storedTombstones(), Seq("doc_id"), "left_anti").count()
      def tombstones() = storedTombstones()
        .unionByName(idsDf).distinct()
      // the nothing-erased, registry-only commit the no-op-shaped
      // branches share: this commit removes no bytes, so the all-Full
      // chain-cut rule does not apply — the request-small registry
      // writes Full, and EVERY other table of v0 carries (the list
      // derives from the version itself, never a hardcoded name set
      // that would silently drop an unknown table from latest)
      def tombstoneOnlyCommit(): Long = step("tombstones") {
        import Snapshots.{Carry, Full, TableSpec}
        val v = Snapshots.writeTablesSpec(spark,
          Seq("store_tombstones" -> (Full(tombstones()): TableSpec)) ++
            Snapshots.tableNames(spark, storeDir, v0)
              .filterNot(_ == "store_tombstones")
              .map(t => t -> (Carry(v0): TableSpec)),
          storeDir)
        (v, missingTomb)
      }
      if (nPurged == 0L && !heldOutDoomed) {
        if (missingTomb == 0L) {
          // never packed, not held-out, already tombstoned ⇒ no-op
          step("noop")(((), 0L))
          return ChunksResult(0L, 0L, 0L, 0L, v0)
        }
        // never packed ⇒ nothing to ERASE at this grain, but the
        // registry must still gain the ids
        return ChunksResult(0L, 0L, 0L, 0L, tombstoneOnlyCommit())
      }
      if (nPurged == 0L) {
        // HELD-OUT-only takedown: the ids were never packed (held-out
        // docs are excluded from the store by construction), but the
        // fingerprint universe may still carry their shingle hashes.
        // RESIDUE-check first so a repeated identical takedown is a
        // true no-op (bare hashes carry no attribution — a stored hash
        // the purged corpus cannot justify IS the erased-state test;
        // derived-but-not-stored hashes are ingestion drift, holdout
        // refresh's business, not erasure's).
        val der = derivedTestShingles().localCheckpoint()
        pinned += der
        val cur = stored("test_shingles")
        val drift = cur.join(der, Seq("h"), "left_anti").count()
        if (drift == 0L && missingTomb == 0L) {
          step("noop")(((), 0L))
          return ChunksResult(0L, 0L, 0L, 0L, v0)
        }
        if (drift == 0L) {
          // fingerprints already clean, only the registry is owed —
          // the shared nothing-erased layered commit
          return ChunksResult(0L, 0L, 0L, 0L, tombstoneOnlyCommit())
        }
        val v1 = step("store_rewrite") {
          // deliberately ALL-FULL, never Carry/Append: an erasure commit
          // must reference NO earlier version, or the chain pins the
          // pre-takedown directory (whose tables still hold the erased
          // bytes) against [[Snapshots.vacuum]] — physical erasure via
          // retention would never complete. A takedown is a CHAIN CUT:
          // later advance appends layer over it, never past it.
          val tables = Seq(
            "store_bands" -> stored("store_bands"),
            "store_capped" -> stored("store_capped"),
            "store_tombstones" -> tombstones(),
            "store_shingles" -> stored("store_shingles"),
            "test_shingles" -> der,
            "store_totals" -> stored("store_totals"),
            "store_manifest" -> sman,
            "store_opens" -> stored("store_opens"))
          assertCoversStore(spark, storeDir, v0, tables.map(_._1))
          (Snapshots.writeTables(tables, storeDir), drift)
        }
        return ChunksResult(0L, 0L, 0L, 0L, v1)
      }
      // 1. per-shard geometry: first shifted offset + purged token mass
      val cuts = purged.groupBy("shard")
        .agg(min("start_off").as("cut"), sum("n_tokens").as("ptoks"))
        .withColumn("emit_start", expr(s"(cut div ${B}L) * ${B}L"))
        .localCheckpoint() // O(shards)
      pinned += cuts
      val touched = cuts.select("shard")
      val nShards = cuts.count()
      // 2. shifted survivor layout of the touched shards
      val sSurv = sman.join(broadcast(touched), Seq("shard"), "left_semi")
        .join(idsDf, Seq("doc_id"), "left_anti")
      val p = purged.select(col("shard"), col("hkey").as("phk"),
        col("doc_id").as("pdoc"), col("n_tokens").as("pnt"))
      val shifts = sSurv.join(broadcast(p), Seq("shard"))
        .filter(col("phk") < col("hkey") ||
          (col("phk") === col("hkey") && col("pdoc") < col("doc_id")))
        .groupBy("shard", "doc_id").agg(sum("pnt").as("shift"))
      val shifted = sSurv.join(shifts, Seq("shard", "doc_id"), "left")
        .withColumn("new_start",
          col("start_off") - coalesce(col("shift"), lit(0L)))
        .localCheckpoint() // consumed by the rebuild AND the store rewrite
      pinned += shifted
      val (rebuilt, nRebuilt) = step(s"rebuild_$chunksTable") {
        val uni = shifted
          .join(broadcast(cuts.select("shard", "emit_start")), Seq("shard"))
          .filter(col("new_start") + col("n_tokens") > col("emit_start"))
          .select(col("shard"), col("doc_id"),
            col("new_start").as("start_off"), col("n_tokens"),
            col("emit_start").as("open_start"))
        val r = graft.operators.TrainPrep
          .shardChunksOf(uni, spark.table(docsTable)).localCheckpoint()
        pinned += r
        val n = r.count()
        ((r, n), n)
      }
      // 3a. trim: chunk ids past each shard's new end
      val deleted = step(s"trim_$chunksTable") {
        val tots = stored("store_totals")
        val newLast = cuts.join(tots, Seq("shard"))
          .withColumn("new_last", expr(
            s"CASE WHEN tot0 - ptoks <= 0 THEN -1 ELSE (tot0 - ptoks - 1) div ${B}L END"))
          .select("shard", "new_last")
        val doomedKeys = spark.table(chunksTable)
          .join(broadcast(newLast), Seq("shard"))
          .filter(col("chunk_id") > col("new_last"))
          .select("shard", "chunk_id")
        val n = Catalog.purgeKeys(spark, chunksTable, doomedKeys, Seq("shard"))
        (n, n)
      }
      // 3b. upsert the rebuilt suffix (only when the region re-emitted
      // anything — a fully-emptied shard has nothing to write)
      step(s"upsert_$chunksTable") {
        if (nRebuilt > 0L)
          Catalog.upsert(spark, rebuilt, chunksTable,
            keys = Seq("shard", "chunk_id"), partitionBy = Seq("shard"))
        ((), nRebuilt)
      }
      // 4. store rewrite: band index, shingle signatures, totals, opens,
      // manifest — and, when a doomed id is held-out, the re-derived
      // fingerprint universe — as ONE atomic Snapshots version. No
      // lineage-breaking pins are needed any more: every input reads the
      // IMMUTABLE pinned version v0 while the write stages under a new
      // version directory, so nothing ever overwrites a file its own
      // plan reads. A crash anywhere inside leaves v0 committed; a
      // re-run recomputes the same version content from v0 and commits.
      // newMan pins because three output tables derive from it.
      val v1 = step("store_rewrite") {
        val manCols = sman.columns.toSeq
        val newMan = sman.join(broadcast(touched), Seq("shard"), "left_anti")
          .unionByName(shifted
            .withColumn("start_off", col("new_start"))
            .select(manCols.map(col): _*))
          .select(manCols.map(col): _*)
          .localCheckpoint()
        pinned += newMan
        val testSh =
          if (heldOutDoomed) derivedTestShingles()
          else stored("test_shingles")
        // deliberately ALL-FULL, never Carry/Append (even for tables
        // the purge left unchanged, like the capped-bucket registry —
        // which carries CONTENT-wise: a bucket dropped at original
        // write stays dropped even if the purge shrank it below the
        // cap, its rows were never stored to restore, caveat (b)): an
        // erasure commit must reference NO earlier version, or the
        // chain pins the pre-takedown directory — whose other tables
        // still hold the erased docs' bytes — against
        // [[Snapshots.vacuum]], and physical erasure via retention
        // would never complete. A takedown is a CHAIN CUT: later
        // advance appends layer over it, never past it.
        val tables = Seq(
          "store_bands" -> stored("store_bands")
            .join(idsDf, Seq("doc_id"), "left_anti"),
          "store_capped" -> stored("store_capped"),
          // the registry GAINS the doomed ids here: the advance's
          // tombstone guard is what keeps an at-least-once replay of
          // pre-takedown inputs from resurrecting this erasure
          "store_tombstones" -> tombstones(),
          "store_shingles" -> stored("store_shingles")
            .join(idsDf, Seq("doc_id"), "left_anti"),
          "test_shingles" -> testSh,
          "store_totals" -> newMan.groupBy("shard")
            .agg(count(lit(1)).as("cnt0"), sum("n_tokens").as("tot0"),
              max("n_tokens").as("max_tok")),
          "store_manifest" -> newMan.repartitionByRange(col("shard"), col("start_off"))
            .sortWithinPartitions("shard", "start_off"),
          "store_opens" -> newMan.groupBy("shard")
            .agg((expr(s"sum(n_tokens) div ${B}L") * B).as("open_start")))
        assertCoversStore(spark, storeDir, v0, tables.map(_._1))
        (Snapshots.writeTables(tables, storeDir), nPurged)
      }
      ChunksResult(nPurged, nShards, nRebuilt, deleted, v1)
    } finally pinned.foreach(_.unpersist(blocking = false))
    }
    // two leases, fixed order (chunk table, then store root — the only
    // multi-lock holder, so no cycle is possible): the chunk-table
    // lease serializes against nightly upserts of the same partitions,
    // the store lease against advanceStore/materializeStore commits
    // that would otherwise resurrect the erased rows by unioning from
    // a pre-takedown version
    CommitLock.withTableLock(spark, chunksTable)(
      CommitLock.withLock(spark, storeDir)(flow()))
  }

  /** Layer-by-layer erasure VERIFICATION — the evidence table a
    * compliance response actually attaches: for every maintained layer
    * that carries a `doc_id`, the count of rows still present for the
    * requested ids. One row per audited layer, `rows_remaining = 0`
    * everywhere ⇔ the takedown is complete at the audited surfaces.
    * Callers pass only the layers they maintain (docsTable, the
    * pipe3/pipe5 pack store, the published RAG index root — the RAG
    * check audits the COMMITTED LATEST version, i.e. what serving
    * reads; pinned older versions are retention policy's business,
    * [[Snapshots.vacuum]]). Each check is one column-pruned semi-join
    * count — O(layer scan) with only the doc_id column read, the same
    * discovery-scan economics as [[Catalog.purgeKeys]]. Content-derived
    * layers without doc attribution are handled two ways: packed chunk
    * digests cannot be audited by id at all — their erasure is pinned
    * structurally by TakedownChunksSpec's bit-equality to a
    * from-scratch rebuild on the purged corpus — while the held-out
    * fingerprint universe (`test_shingles`) GAINS a structural layer
    * here when BOTH docsTable and storeDir are passed: its
    * rows_remaining is the count of STORED hashes absent from a
    * from-scratch derivation on the CURRENT (purged) documents table —
    * zero ⇔ nothing the current corpus cannot justify survives at that
    * layer (an erased doc's unique shingles would remain stored and
    * count; hashes the corpus gained since the last store write are
    * ingestion drift, deliberately NOT counted — a successful erasure
    * must not read as residue because a held-out doc arrived
    * yesterday). O(held-out shingles) — heavier than the semi-join
    * counts but one narrow-column pass per side, and the only id-free
    * layer a regulator would ask about.
    * MEASURED (ScaleProbe `prod:chunks` arm, last at commit 561c6b9;
    * warm, r15): the evidence table — six
    * layers with tombstone coverage (documents + manifest/bands/
    * shingles by id + the structural test_shingles derivation + the
    * registry check) — runs 1.2–1.7 s at 1× and 10× store history
    * alike, flat, scan-bound.
    */
  /** The tombstone registries are deliberately EXCLUDED from residue
    * audits — they hold the erased ids BY DESIGN (the re-entry guard
    * the coverage layers check), not residue.
    */
  private val TombstoneRegistries = Set("store_tombstones", "tombstones")

  /** The id-bearing tables of version `v` under `root` — DERIVED from
    * the version's own surface (every table whose schema carries a
    * `doc_id` column, minus the tombstone registries), never a
    * hardcoded list: a FUTURE id-bearing store table would otherwise be
    * rewritten correctly by the takedown (whose [[assertCoversStore]]
    * asserts both directions) yet silently excluded from the residue
    * EVIDENCE — the same drift hazard one step removed. Tables without
    * doc attribution (`test_shingles`, centroids, stats, totals) are
    * out by construction; `test_shingles` gets its structural audit
    * against the current corpus instead. Metadata-only (schema reads).
    */
  private[sources] def idBearingTables(spark: SparkSession, root: String,
      v: Long): Seq[String] =
    Snapshots.tableNames(spark, root, v)
      .filterNot(TombstoneRegistries)
      .filter(t => Snapshots.readTable(spark, root, t, Some(v))
        .schema.fieldNames.exists(_.equalsIgnoreCase("doc_id")))

  /** The SHARED residue-audit core for any id-keyed snapshot store —
    * one layer per retained version of `root`, counting `ids` (a
    * 1-column frame named `idCol`) across the version's id-bearing
    * tables. Used by both audit grains ([[verifyErasure]] at doc_id,
    * `VecStore.verifyErasure` at vec_id) so the derivation can never
    * drift between them. A table is id-bearing iff its schema carries
    * `idCol` (registries excluded — they hold erased ids by design).
    * BOTH expensive probes memoize per DATA DIRECTORY, not per
    * version: retained layered versions share their chains' base
    * directories, and every directory of one table's chain shares one
    * schema (the advancers' conform contract), so the schema sniffs
    * AND the residue counts are O(distinct directories), never
    * O(versions × chain depth).
    */
  private[graft] def retainedResidueLayers(spark: SparkSession,
      root: String, ids: org.apache.spark.sql.DataFrame, idCol: String,
      registries: Set[String], prefix: String): Seq[(String, Long)] = {
    val latest = Snapshots.latestVersion(spark, root)
    val dirCount = scala.collection.mutable.Map[String, Long]()
    val dirIdBearing = scala.collection.mutable.Map[String, Boolean]()
    def countDir(p: String): Long =
      dirCount.getOrElseUpdate(p, spark.read.parquet(p)
        .select(idCol).join(ids, Seq(idCol), "left_semi").count())
    def idBearing(paths: Seq[String]): Boolean =
      dirIdBearing.getOrElseUpdate(paths.head, spark.read
        .parquet(paths.head).schema.fieldNames
        .exists(_.equalsIgnoreCase(idCol)))
    Snapshots.versions(spark, root)
      .filter(v => latest.exists(v <= _))
      .map { v =>
        val n = Snapshots.tableNames(spark, root, v)
          .filterNot(registries)
          .map { t =>
            val paths = Snapshots.tablePaths(spark, root, t, v)
            if (paths.nonEmpty && idBearing(paths)) paths.map(countDir).sum
            else 0L
          }.sum
        s"${prefix}_v${v}_residue" -> n
      }
  }

  def verifyErasure(spark: SparkSession, docIds: Seq[Long],
      docsTable: Option[String] = None, storeDir: Option[String] = None,
      ragRoot: Option[String] = None,
      auditRetainedVersions: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(docIds.nonEmpty, "verifyErasure needs at least one doc id")
    import spark.implicits._
    val ids = docIds.toDF("doc_id").distinct().localCheckpoint()
    try {
      def remaining(df: org.apache.spark.sql.DataFrame): Long =
        df.select("doc_id").join(ids, Seq("doc_id"), "left_semi").count()
      // `auditRetainedVersions` adds ONE LAYER PER RETAINED SNAPSHOT
      // VERSION per root: the committed-latest checks below answer "is
      // serving clean", but every retained older version is still a
      // pinnable read that physically holds its rows — a regulator's
      // "and the old copies?" must be answered by a query, not a
      // retention-policy doc comment. Each layer counts requested ids
      // across the version's id-bearing tables; rows_remaining > 0 on
      // a pre-takedown version is the honest signal that retention has
      // not yet completed the erasure ([[completeErasure]] runs the
      // compact/vacuum loop and re-audits with this on). Cost: one
      // column-pruned semi-join count per (retained version,
      // id-bearing table) — bounded by the retention window.
      // counts AND schema sniffs memoize per DATA DIRECTORY, not per
      // version: retained versions of an advance-layered history share
      // their chain's base directories (V nightly Appends over one
      // base = V versions, but only V+1 distinct directories), and a
      // per-version readTable would re-scan the common base V times —
      // O(versions × chain depth) scans where O(distinct directories)
      // is the true work. Row-set equivalence is exact: a layered
      // version's rows ARE the union of its chain's directories, and
      // the residue count is a sum over disjoint directory row sets.
      // the audited table set is DERIVED per version (the shared
      // [[retainedResidueLayers]] core) — a table that gains doc
      // attribution later in history is audited from the version it
      // appears in, and a future id-bearing table can never silently
      // fall out of the evidence
      def retainedLayers(root: String, prefix: String): Seq[(String, Long)] =
        retainedResidueLayers(spark, root, ids, "doc_id",
          TombstoneRegistries, prefix)
      val rows =
        docsTable.toSeq.map(t =>
          "documents" -> remaining(spark.table(t))) ++
        storeDir.toSeq.flatMap { d =>
          val v = Snapshots.latestVersion(spark, d).getOrElse(
            throw new IllegalStateException(s"no committed snapshot under $d"))
          idBearingTables(spark, d, v).map(t =>
            t -> remaining(Snapshots.readTable(spark, d, t, Some(v))))
        } ++
        (docsTable zip storeDir).toSeq.map { case (t, d) =>
          // ONE-directional: stored hashes absent from the current
          // derivation are erasure RESIDUE; derived-but-not-stored
          // hashes are ordinary ingestion drift (a held-out doc added
          // since the last store write) and must not flag a successful
          // takedown as unclean
          val der = graft.operators.TrainPrep.testShinglesOf(spark.table(t))
          val cur = Snapshots.readTable(spark, d, "test_shingles")
          "test_shingles" -> cur.join(der, Seq("h"), "left_anti").count()
        } ++
        // tombstone COVERAGE (the re-entry guard, not a residue scan):
        // rows_remaining counts requested ids MISSING from the
        // registry — clean ⇔ every id is tombstoned, so an
        // at-least-once replay of pre-takedown inputs cannot
        // resurrect the erasure through the store advance
        storeDir.toSeq.map(d =>
          "tombstone_coverage" -> ids.join(
            registryOrEmpty(spark, d, "store_tombstones"),
            Seq("doc_id"), "left_anti").count()) ++
        ragRoot.toSeq.flatMap { r =>
          val v = Snapshots.latestVersion(spark, r).getOrElse(
            throw new IllegalStateException(s"no committed snapshot under $r"))
          idBearingTables(spark, r, v).map(t =>
            s"rag_$t" -> remaining(Snapshots.readTable(spark, r, t, Some(v))))
        } ++
        ragRoot.toSeq.map(r =>
          "rag_tombstone_coverage" -> ids.join(
            registryOrEmpty(spark, r, "tombstones"),
            Seq("doc_id"), "left_anti").count()) ++
        (if (!auditRetainedVersions) Nil
         else storeDir.toSeq.flatMap(d => retainedLayers(d, "store")) ++
           ragRoot.toSeq.flatMap(r => retainedLayers(r, "rag")))
      rows.map { case (layer, n) => (layer, n, n == 0L) }
        .toDF("layer", "rows_remaining", "clean")
    } finally ids.unpersist(blocking = false)
  }

  /** What [[completeErasure]] did per root: the maintenance pass
    * (compaction + reclaimed versions) and the re-audit evidence table
    * (with the per-retained-version layers ON).
    */
  final case class Completion(store: Option[Snapshots.Maintenance],
      rag: Option[Snapshots.Maintenance],
      evidence: org.apache.spark.sql.DataFrame) {
    /** Every evidence layer clean — serving AND every retained version. */
    def complete: Boolean =
      evidence.filter(!col("clean")).isEmpty
  }

  /** RETENTION-COMPLETE erasure — the loop [[execute]]/[[executeChunks]]
    * deliberately leave to "retention policy decides", closed as an
    * entry point: after the takedown commits (source purged, serving
    * latest rewritten, tombstones registered), the PRE-takedown
    * snapshot versions still physically hold the erased rows until
    * someone compacts whatever chains pin them and vacuums them away.
    * Per given root, under its [[CommitLock]] lease (re-entrant if the
    * caller still holds it from the takedown):
    *
    *  1. [[Snapshots.maintain]] with the SLA's `keep`: compact iff the
    *     surviving latest's chains reference any version outside the
    *     retention window (post-takedown advances layer over the
    *     takedown's chain-cut commit, and those refs would otherwise
    *     pin — not the pre-takedown bytes, which the chain cut already
    *     unpinned, but the window arithmetic still must hold), then
    *     vacuum to `keep`;
    *  2. re-audit with [[verifyErasure]]'s per-retained-version layers
    *     ON — the compliance statement "no retained snapshot version
    *     still contains these ids" as a query result.
    *
    * One [[RunLog]] row per step per root (`compact_<root>` — rows is
    * the chain-cut version, 0 when no compaction was needed;
    * `vacuum_<root>` — rows is the count of reclaimed versions;
    * `erasure_audit` — rows is the total residue across all evidence
    * layers, which a compliant completion leaves at 0). `keep` is the
    * SLA: `keep = 1` erases history down to the serving version NOW;
    * a larger window may honestly retain a pre-takedown version, and
    * the evidence will SAY so (clean = false on its layer) rather than
    * bury it. Physical-delete caveat: vacuum removes version
    * directories; durable-storage replicas/backups are outside any
    * engine's reach. Scale: the compact (when taken) rewrites the
    * latest version only; vacuum and the audit are metadata plus
    * column-pruned id scans. MEASURED (ScaleProbe `prod:chunks` arm,
    * last at commit 561c6b9; warm, r16): after
    * the fixed 20-doc takedown plus a nightly advance, completion with
    * keep=1 runs 4.4 s at 1× (compaction taken — the advance's chain
    * pinned the takedown version; 3 versions reclaimed) and 3.5 s at
    * 10× store (no compaction owed — that corpus's advance delta was
    * empty so nothing pinned; 1 version reclaimed), the 7-layer
    * evidence (serving + per-retained-version residue + tombstone
    * coverage) clean at both scales; the compact term is the one
    * store-sized rewrite, paid only when a chain actually pins.
    */
  def completeErasure(spark: SparkSession, docIds: Seq[Long],
      docsTable: Option[String] = None, storeDir: Option[String] = None,
      ragRoot: Option[String] = None, keep: Int = 1,
      runLogPath: String, runTs: java.sql.Timestamp): Completion = {
    require(docIds.nonEmpty, "completeErasure needs at least one doc id")
    require(storeDir.nonEmpty || ragRoot.nonEmpty,
      "completeErasure needs at least one snapshot root to complete")
    val t0 = System.nanoTime()
    val pipeline = "takedown_retention"
    def maintainRoot(root: String, label: String): Snapshots.Maintenance = {
      // maxLayers = MaxValue: depth policy is the nightly
      // orchestrator's business ([[Snapshots.maintain]] with its own
      // bound); HERE only the pinning rule may force the chain cut
      val m = RunLog.step[Snapshots.Maintenance](spark, runLogPath, runTs,
          pipeline, s"compact_$label", t0)(_.compactedTo.getOrElse(0L))(
        Snapshots.maintain(spark, root, Int.MaxValue, keep))
      RunLog.append(spark, runLogPath, Seq(RunLog.entry(runTs, pipeline,
        s"vacuum_$label", m.vacuumed.size.toLong, t0)))
      m
    }
    val sm = storeDir.map(maintainRoot(_, "store"))
    val rm = ragRoot.map(maintainRoot(_, "rag"))
    val evidence = RunLog.step[org.apache.spark.sql.DataFrame](spark,
        runLogPath, runTs, pipeline, "erasure_audit", t0)(
        _.agg(sum("rows_remaining")).first().getLong(0))(
      verifyErasure(spark, docIds, docsTable, storeDir, ragRoot,
        auditRetainedVersions = true).localCheckpoint())
    Completion(sm, rm, evidence)
  }

  /** The rewrite-coverage guard both all-Full erasure commits run just
    * before writing: the rewritten table set must cover EVERY table of
    * the pinned pre-takedown version v0 (plus the tombstone registry
    * this flow may introduce on a pre-registry store). The rewrites
    * name their tables explicitly — each table's erasure transform is
    * table-specific, so there is no generic fallback to "derive" — and
    * this assertion turns the failure mode of a future writer adding a
    * store table (exactly how `store_tombstones` itself arrived) from
    * SILENTLY DROPPING that table out of latest into a loud error
    * naming it. The inverse direction is also pinned: writing a table
    * v0 never had (other than the registry) would fork the store
    * surface mid-erasure.
    */
  private def assertCoversStore(spark: SparkSession, storeDir: String,
      v0: Long, written: Seq[String]): Unit = {
    val atV0 = Snapshots.tableNames(spark, storeDir, v0).toSet
    val w = written.toSet
    val dropped = atV0 -- w
    require(dropped.isEmpty,
      s"takedown store rewrite does not cover store table(s) " +
        s"${dropped.toSeq.sorted.mkString(", ")} present at _v=$v0 — an " +
        "all-Full erasure commit must rewrite every table or it silently " +
        "drops them from latest; teach the rewrite its erasure transform")
    val invented = w -- atV0 - "store_tombstones"
    require(invented.isEmpty,
      s"takedown store rewrite writes table(s) " +
        s"${invented.toSeq.sorted.mkString(", ")} that _v=$v0 does not have")
  }

  /** A store's tombstone registry, or an EMPTY frame on a
    * pre-registry store — which makes the coverage layer report every
    * requested id as missing (clean = false), the honest verdict: the
    * re-entry guard is not in force until a takedown or rebuild
    * introduces the table.
    */
  private def registryOrEmpty(spark: SparkSession, root: String,
      table: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    Snapshots.latestVersion(spark, root) match {
      case Some(v) if Snapshots.tableNames(spark, root, v).contains(table) =>
        Snapshots.readTable(spark, root, table, Some(v))
      case _ => spark.range(0).select(col("id").as("doc_id"))
    }
  }
}
