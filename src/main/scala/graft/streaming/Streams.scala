package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming pipelines (SURVEY §2.7): the reference's
  * scheduler-driven micro-batches (T5) map to Trigger.AvailableNow over
  * an append-only raw zone; its high-water-mark bookkeeping (T1/T2)
  * becomes the streaming checkpoint. Transform functions are written
  * against plain DataFrames so the identical plan runs in batch (tested
  * against the DuckDB oracle via EventOps) and as a stream (tested over
  * MemoryStream in StreamsSpec).
  *
  * Scale: watermark + windowed aggregation keeps state bounded; session
  * state (flatMapGroupsWithState-style) is per-key-tiny. Sink pattern is
  * foreachBatch → append to the date-partitioned warehouse table, which
  * at 100 TB means each micro-batch only touches the partitions it saw.
  */
object Streams {

  /** 1-hour tumbling window counts with a 30-minute watermark —
    * streaming twin of EventOps.ev1 (the reference's daily grain is the
    * same shape at window="1 day").
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("total_value"))

  /** Gap-based session windows (30 min) per user — streaming twin of
    * EventOps.ev3, using Spark's native session_window state operator.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("start"), col("w.end").as("end"),
        col("n_events"))

  /** Input/state/output records for [[runningWatchTime]]. */
  case class Progress(media_id: String, visitor_key: String,
      ts: java.sql.Timestamp, pct: Double, duration: Double)
  case class WatchState(lastUs: Long, lastPct: Double, total: Double, nEvents: Long)
  case class WatchUpdate(media_id: String, visitor_key: String,
      total_watch_secs: Double, n_events: Long)

  /** Online A6: the sessionized watch-time state machine as a custom
    * stateful streaming operator (flatMapGroupsWithState). State per
    * (media, visitor) is the same 3 scalars as the batch machine
    * (graft.wistia.WatchTime): last anchor time, last percent, running
    * total; each micro-batch advances it over its (time-sorted) events
    * and emits the updated running total (OutputMode.Update).
    *
    * Corrected-mode scaling (Δpct · duration, divisor 1) — the streaming
    * surface is new engine capability, not a reference replication, so it
    * uses the non-quirked semantics. Late events that arrive behind the
    * anchor credit nothing (percent must rise), which makes the operator
    * robust to modest disorder without a watermark; state is
    * per-key-tiny (the 100 TB property: state size scales with live keys,
    * not history).
    */
  def runningWatchTime(events: Dataset[Progress]): Dataset[WatchUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e => (e.media_id, e.visitor_key))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: (String, String), it: Iterator[Progress], state: GroupState[WatchState]) => {
          var st = state.getOption.getOrElse(WatchState(-1L, 0.0, 0.0, 0L))
          it.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val us = e.ts.getTime * 1000L
            st =
              if (st.lastUs < 0 && e.pct > 0)
                WatchState(us, e.pct, st.total, st.nEvents + 1)
              else if (st.lastUs >= 0 && us > st.lastUs && e.pct > st.lastPct) {
                val elapsed = (us - st.lastUs) / 1e6
                val credit =
                  math.min(elapsed, (e.pct - st.lastPct) * e.duration)
                WatchState(us, e.pct,
                  math.min(st.total + credit, e.duration), st.nEvents + 1)
              } else if (st.lastUs >= 0 && us > st.lastUs) // flat/backward: re-anchor
                WatchState(us, e.pct, st.total, st.nEvents + 1)
              else st.copy(nEvents = st.nEvents + 1) // late behind anchor: no credit
          }
          state.update(st)
          Iterator(WatchUpdate(key._1, key._2, st.total, st.nEvents))
        })
  }

  /** Stream-stream interval join: purchases attributed to the same
    * user's click within the preceding 30 minutes. Both sides carry
    * watermarks so the join state is bounded (Spark retains each side
    * only within watermark + interval — the 100 TB property again: state
    * scales with the window, not history).
    *
    * Measured (ScaleProbe `stream` arm, last at commit 561c6b9;
    * local[32], MemoryStream micro-batches): median batch latency is FLAT at 1×→10× volume
    * (4.17 → 4.20 s for 5k → 50k clicks/batch, i.e. 1.2k → 11.9k
    * clicks/s — micro-batch overhead dominates, per-row cost is noise),
    * and state rows grow exactly linearly with the retained horizon
    * (27.5k → 275k rows, ~74 MiB at 10×), confirming the
    * watermark-bounded contract.
    */
  def streamClickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id"), col("ts").as("click_ts"),
      col("event_id").as("click_id")).withWatermark("click_ts", "1 hour").alias("c")
    val p = purchases.select(col("user_id"), col("ts").as("purchase_ts"),
      col("event_id").as("purchase_id")).withWatermark("purchase_ts", "1 hour").alias("p")
    c.join(p, expr(
      """c.user_id = p.user_id AND
         purchase_ts >= click_ts AND
         purchase_ts <= click_ts + INTERVAL 30 MINUTES"""))
      .select(col("c.user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Streaming exact dedup on a content key within the watermark horizon
    * — the streaming face of Dedup.dd1 (state bounded by the watermark).
    */
  def streamingDedup(events: DataFrame, idCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(idCols)

  /** Click/purchase event record — the input shape of
    * [[streamClickAttribution]].
    */
  case class ClickEv(ts: java.sql.Timestamp, user_id: Long, event_id: Long)

  /** Input/state/output records for [[streamingNearDup]]. */
  case class DocIn(doc_id: Long, text: String, ts: java.sql.Timestamp)
  case class DocSig(doc_id: Long, simhash: Long, ts: java.sql.Timestamp)
  case class DocKept(doc_id: Long, simhash: Long)
  case class NearDupState(recent: List[Long])

  /** Per-doc 32-bit word-vote SimHash, bit-identical to the batch
    * construction (Dedup.simhashDf / the dd4 oracle: per-word hash =
    * first 15 hex chars of md5, vote per bit, tie votes set the bit) —
    * SimhashParitySpec pins the equality on real corpus data.
    */
  private[graft] def simhash32(text: String): Long = {
    val votes = new Array[Int](32)
    text.split(" ").foreach { w =>
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(w).substring(0, 15), 16)
      var i = 0
      while (i < 32) {
        if (((h >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 32) { if (votes(i) >= 0) sig |= 1L << i; i += 1 }
    sig
  }

  /** Online near-dup gate — the streaming complement of the batch dd8
    * pigeonhole pass: each doc is simhashed ([[simhash32]]) and keyed by
    * its low-11-bit band; per live band code the state remembers the
    * most recent `maxRecent` admitted simhashes, and a doc within
    * `maxHamming` of any of them is dropped. Single-band filtering is
    * deliberate: it admits some near-dups (a pair can differ in the
    * keyed band), which is the standard online-gate/batch-reconcile
    * split — the cheap filter runs in-stream with state bounded at
    * 8·maxRecent bytes per band code, and the complete 3-band batch
    * pass (dd8) reconciles on schedule. Within a micro-batch, docs are
    * processed in (ts, doc_id) order so admission is deterministic.
    *
    * State lifecycle: each band code's state carries an EVENT-TIME TTL —
    * `stateTtlMs` past the last admitted-or-seen event — enforced with
    * `GroupStateTimeout.EventTimeTimeout` against the stream's watermark
    * (`watermarkDelay` bounds lateness). A band code that goes quiet is
    * evicted once the watermark passes its deadline, so total state is
    * bounded by RECENCY (live band codes × 8·maxRecent bytes), not by
    * every band code ever seen — the contract that makes the same
    * pattern safe under a wider band key. Trade-off: a near-dup arriving
    * more than the TTL after its original is admitted; the batch
    * reconcile pass catches it, same as the single-band misses.
    *
    * Measured (ScaleProbe `stream` arm, last at commit 561c6b9;
    * local[32], MemoryStream micro-batches, every-5th-doc duplicate
    * pressure): 5k docs/batch →
    * median 1.32 s (3.8k docs/s); 50k docs/batch → 2.49 s (20.1k
    * docs/s) — throughput scales super-linearly with batch size while
    * state stays at its cap (2,048 live band codes, ~2.2 MiB at 10×):
    * latency is micro-batch overhead + O(docs·maxRecent) hash checks,
    * state is recency-bounded as designed.
    */
  def streamingNearDup(docs: Dataset[DocIn], maxHamming: Int = 2,
      maxRecent: Int = 256, watermarkDelay: String = "1 hour",
      stateTtlMs: Long = 2L * 60 * 60 * 1000): Dataset[DocKept] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.map(d => DocSig(d.doc_id, simhash32(d.text), d.ts))
      .withWatermark("ts", watermarkDelay)
      .groupByKey(s => s.simhash & 2047L)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Long, it: Iterator[DocSig], state: GroupState[NearDupState]) => {
          if (state.hasTimedOut) {
            state.remove() // idle band code: watermark passed its deadline
            Iterator.empty
          } else {
            var recent = state.getOption.map(_.recent).getOrElse(Nil)
            val out = scala.collection.mutable.ArrayBuffer.empty[DocKept]
            val batch = it.toSeq.sortBy(s => (s.ts.getTime, s.doc_id))
            batch.foreach { s =>
              val dup = recent.exists(h =>
                java.lang.Long.bitCount(h ^ s.simhash) <= maxHamming)
              if (!dup) {
                out += DocKept(s.doc_id, s.simhash)
                recent = (s.simhash :: recent).take(maxRecent)
              }
            }
            state.update(NearDupState(recent))
            // deadline = TTL past this batch's newest event (clamped above
            // the watermark — setTimeoutTimestamp rejects values behind it)
            state.setTimeoutTimestamp(
              math.max(batch.map(_.ts.getTime).max,
                state.getCurrentWatermarkMs() + 1) + stateTtlMs)
            out.iterator
          }
        })
  }

  /** Input/state/output records for [[streamingHeavyHitters]]. */
  case class TokEv(term: String, ts: java.sql.Timestamp)
  case class MGState(keys: Array[Long], counts: Array[Long])
  case class HHCand(shard: Long, term_hash: Long, floor_count: Long)

  /** Portable term hash — the same md5-15-hex-chars→long key t13's batch
    * heavy-hitters pass uses, so streaming candidates join directly
    * against batch recounts.
    */
  private[graft] def termHash(term: String): Long =
    java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(term).substring(0, 15), 16)

  /** Online heavy-hitters candidate tracking — the STREAMING half of
    * t13's candidates-then-exact-recount split: terms are hash-
    * partitioned into `shards` groups, and each shard's state is one
    * Misra–Gries counter map ([[org.apache.spark.sql.graftshim.MGBuffer]]
    * — the same structure the batch aggregate uses, same propped merge
    * guarantee). Because a term's occurrences all land in ONE shard,
    * any term with GLOBAL frequency > n/(capacity+1) has shard-local
    * frequency > n_shard/(capacity+1) (n_shard ≤ n), so it survives its
    * shard's sketch — the union of shard candidates is a superset of
    * the global heavy set at every point in the stream.
    *
    * Each micro-batch emits the shard's full current candidate list
    * (OutputMode.Update semantics — downstream reads the latest emission
    * per shard, exactly-once not required for a candidate feed); the
    * scheduled batch recount (t13) turns candidates into exact answers.
    * `floor_count` is the MG residual count — a guaranteed LOWER bound
    * on the term's true shard count (decrements only ever subtract), so
    * a monitoring layer can alert on it without waiting for the recount.
    * State per shard is ≤ capacity counters (16 B each) — total state
    * is shards·capacity·16 B regardless of stream length or vocabulary.
    */
  def streamingHeavyHitters(toks: Dataset[TokEv], capacity: Int = 64,
      shards: Int = 16): Dataset[HHCand] = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks.map(t => termHash(t.term))
      .groupByKey(h => java.lang.Math.floorMod(h, shards.toLong))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (shard: Long, it: Iterator[Long], state: GroupState[MGState]) => {
          val buf = new org.apache.spark.sql.graftshim.MGBuffer(capacity)
          state.getOption.foreach { s =>
            var i = 0
            while (i < s.keys.length) { buf.addNoCompress(s.keys(i), s.counts(i)); i += 1 }
          }
          it.foreach(buf.add(_, 1L))
          val pairs = buf.counts.toArray.sortBy(_._1)
          state.update(MGState(pairs.map(_._1), pairs.map(_._2)))
          pairs.iterator.map { case (h, c) => HHCand(shard, h, c) }
        })
  }

  /** Input/state/output records for [[streamingIndexMaintenance]]. */
  case class TermPost(term: String, doc_id: Long)
  case class IdxState(df: Long, tf: Long)
  case class IdxUpdate(term: String, df_total: Long, tf_total: Long)

  /** Streaming twin of search3's incremental inverted-index maintenance
    * — the last batch-only incremental op (dd11 dedup / sim9 ANN /
    * search3 postings) re-expressed with the streaming state store AS
    * the stored stats table: each micro-batch explodes its documents
    * into term postings, groups by term, and folds the batch's
    * (distinct-doc, token) counts into per-term (df, tf) state, emitting
    * one updated row per TOUCHED term — exactly the upsert row set
    * search3 computes against its checkpointed stored frame.
    *
    * Assumes the corpus is APPEND-ONLY with each doc_id arriving in
    * exactly one micro-batch (search3's disjoint batch-vs-stored
    * convention) — df increments by the batch's distinct-doc count
    * because no doc can re-contribute to a term it already counted.
    *
    * Scale: state is one 16-byte (df, tf) pair per vocabulary term —
    * the postings-STATS table itself, term-sharded by the state store
    * exactly as the batch variant's stored table is term-bucketed; per
    * batch, work and emitted rows are O(batch terms), the corpus is
    * never rescanned. StreamsSpec pins batch/stream parity: replaying
    * search3's stored+batch split through two micro-batches must emit
    * search3's df_total/tf_total row set bit-for-bit.
    */
  def streamingIndexMaintenance(docs: Dataset[DocIn]): Dataset[IdxUpdate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap(d => d.text.split(" ").iterator.map(t => TermPost(t, d.doc_id)))
      .groupByKey(_.term)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (term: String, it: Iterator[TermPost], state: GroupState[IdxState]) => {
          var tfNew = 0L
          val docsSeen = scala.collection.mutable.HashSet.empty[Long]
          it.foreach { p => tfNew += 1; docsSeen += p.doc_id }
          val prev = state.getOption.getOrElse(IdxState(0L, 0L))
          val next = IdxState(prev.df + docsSeen.size, prev.tf + tfNew)
          state.update(next)
          Iterator.single(IdxUpdate(term, next.df, next.tf))
        })
  }

  /** Input/state/output records for [[streamingManifestAppend]]. */
  case class ManifestIn(doc_id: Long, n_tokens: Long)
  case class ShardCounters(cnt: Long, tot: Long)
  case class ManifestRow(doc_id: Long, shard: Long, pos: Long, start_off: Long)

  /** Streaming twin of pipe3's manifest APPEND (stage 5) — the per-shard
    * (row-count, token-total) counters live in the streaming state store
    * instead of a stored-aggregate table: each micro-batch's accepted
    * docs group by pk4's portable md5-hkey shard, the group sorts by
    * (hkey, doc_id) (pipe3's deterministic intra-shard order), and
    * pos/start_off are assigned by folding the shard's running counters
    * — append-only offsets, so rows already emitted never shift.
    * `priors` seeds the counters with the stored per-shard totals (the
    * same 8 scalars pipe3 broadcasts), so a stream started against an
    * existing store CONTINUES its manifest.
    *
    * Contract vs the batch twin: a single micro-batch emits pipe3's
    * stage-5 rows bit-for-bit; across micro-batches order is arrival
    * order (batch k+1 appends after batch k — the only possible
    * semantics once earlier offsets are immutable), with (hkey, doc_id)
    * order within each trigger. StreamsSpec pins both.
    *
    * Scale: state is ONE 16-byte counter pair per shard — nShards rows
    * total, nothing per-doc; per trigger, work is one groupByKey
    * shuffle of the batch's narrow manifest rows. The per-shard
    * in-memory sort is bounded by the micro-batch slice, not the
    * corpus — and that bound is LOAD-BEARING: the state function
    * materializes ~1/nShards of each trigger in one task's heap (unlike
    * the batch twin's spillable window sort), so a production-sized
    * ingest must either size triggers (rows/trigger ≲ nShards × what
    * one task can sort in memory) or raise nShards; the manifest rows
    * are 24 B each, so the default 8 shards handle multi-million-row
    * triggers comfortably, but an unbounded backfill through one
    * trigger is the misuse mode.
    */
  def streamingManifestAppend(docs: Dataset[ManifestIn], nShards: Long = 8L,
      priors: Map[Long, (Long, Long)] = Map.empty,
      mode: OutputMode = OutputMode.Update)
      : Dataset[ManifestRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .map(d => (d.doc_id, d.n_tokens, termHash(s"${d.doc_id}:42")))
      .groupByKey { case (_, _, hk) => java.lang.Math.floorMod(hk, nShards) }
      .flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout)(
        (shard: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[ShardCounters]) => {
          val rows = it.toArray.sortBy { case (id, _, hk) => (hk, id) }
          val seed = priors.getOrElse(shard, (0L, 0L))
          var ShardCounters(cnt, tot) =
            state.getOption.getOrElse(ShardCounters(seed._1, seed._2))
          val out = rows.map { case (id, n, _) =>
            val r = ManifestRow(id, shard, cnt, tot)
            cnt += 1; tot += n
            r
          }
          state.update(ShardCounters(cnt, tot))
          out.iterator
        })
  }

  /** Input record for [[streamingIncrementalPrep]] — a RAW document row
    * (the pipeline applies the quality gate itself, like pipe3 stage 1).
    */
  case class PrepDoc(doc_id: Long, text: String, source: String, n_chars: Long)

  /** The stored-store model [[streamingIncrementalPrep]]'s gates consult:
    * the store's MinHash band index (bucket-capped exactly like pipe3's
    * stage-3 guard), the shingle-hash sets of store docs (fetched for
    * candidate verification only), and the held-out fingerprint universe.
    * Broadcast-sized here; at 100 TB each map is a stored TABLE the
    * stream joins against (dd11's batch-vs-stored-index convention) —
    * the band index and fingerprints are exactly what pipe3 reads, and
    * candidate shingle-set fetches are point lookups by doc id.
    */
  case class PrepStore(
      bandIndex: Map[String, Array[Long]],
      storeShingles: Map[Long, Array[Long]],
      testShingles: Set[Long])

  /** Word 3-shingles, matching Dedup.shingleRowsOf exactly (split keeps
    * trailing empties like Spark's `split`; docs under 3 tokens shingle
    * to nothing).
    */
  private[graft] def shinglesOf(text: String): Array[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < 3) Array.empty[String]
    else Array.tabulate(toks.length - 2)(i =>
      toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
  }

  /** Sorted distinct md5-15-hex shingle hashes — the portable content
    * fingerprint (survival decisions ride on md5, the pipe2/pipe3
    * stance; [[termHash]] is pinned bit-identical to the engine's
    * conv(substring(md5(x),1,15),16,10)).
    */
  private[graft] def shingleHashes(text: String): Array[Long] =
    sortedDistinct(rawShingleHashes(text))

  /** One md5 digest per shingle occurrence, unsorted/undeduped — the
    * single hashing pass both the Jaccard fingerprint and the MinHash
    * band keys derive from (the gate computes it once per doc).
    */
  private[graft] def rawShingleHashes(text: String): Array[Long] =
    shinglesOf(text).map(termHash)

  private def sortedDistinct(src: Array[Long]): Array[Long] = {
    val hs = src.clone()
    java.util.Arrays.sort(hs)
    var n = 0
    val out = new Array[Long](hs.length)
    var i = 0
    while (i < hs.length) {
      if (n == 0 || out(n - 1) != hs(i)) { out(n) = hs(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** The doc's 4 MinHash band keys as "band|h0,h1,h2" strings — the
    * identical arithmetic of Dedup.bandFrameOf (same permutation
    * constants, same md5-derived base hash), with STRING keys instead of
    * the engine's xxhash64 compression (candidate keys, so either is
    * sound; strings keep the JVM twin engine-independent).
    */
  private[graft] def bandKeysOf(text: String): Array[String] =
    bandKeysFromHashes(rawShingleHashes(text))

  /** [[bandKeysOf]] from an already-computed raw shingle-hash pass. */
  private[graft] def bandKeysFromHashes(raw: Array[Long]): Array[String] = {
    import graft.operators.Dedup.{P, permA, permB, numHashes, rowsPerBand, numBands}
    val hms = raw.map(_ % P)
    if (hms.isEmpty) return Array.empty[String]
    val sig = Array.tabulate(numHashes) { i =>
      var m = Long.MaxValue
      var j = 0
      while (j < hms.length) {
        val v = (hms(j) * permA(i) + permB(i)) % P
        if (v < m) m = v
        j += 1
      }
      m
    }
    Array.tabulate(numBands)(b =>
      b.toString + "|" + (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(sig).mkString(","))
  }

  private def sortedIntersectCount(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var c = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  /** Build [[PrepStore]] from the quality-gated store documents and the
    * raw held-out documents — the JVM twin of pipe3's stored index
    * build. Store band buckets above pipe3's cap are dropped (the same
    * foreign-store guard, same constant).
    */
  def buildPrepStore(storeDocs: Seq[(Long, String)],
      testTexts: Seq[String]): PrepStore = {
    val idx = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    storeDocs.foreach { case (id, text) =>
      bandKeysOf(text).foreach(k =>
        idx.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += id)
    }
    PrepStore(
      bandIndex = idx.iterator
        .filter(_._2.length <= graft.operators.TrainPrep.pipe3MaxStoreBucket)
        .map { case (k, v) => k -> v.toArray }.toMap,
      storeShingles = storeDocs.map { case (id, t) => id -> shingleHashes(t) }.toMap,
      testShingles = testTexts.flatMap(shinglesOf).map(termHash).toSet)
  }

  /** THE composed streaming ingest: pipe3's five stages as ONE
    * Trigger-compatible streaming pipeline — quality gate → exact
    * content dedup → fuzzy gate vs the stored band index →
    * decontamination → manifest append with per-shard offset
    * continuation. Closes the round-10 gap where only stage 5 had a
    * streaming twin.
    *
    * Stage placement:
    *  - Stages 1/3/4 are STATELESS per-doc decisions against the
    *    broadcast [[PrepStore]] (per-doc gate outcomes don't depend on
    *    other batch docs — batch×store candidates only — so they
    *    commute with stage 2's dedup and run first, shrinking what the
    *    stateful operators see).
    *  - Stage 2 is a content-keyed flatMapGroupsWithState in APPEND
    *    mode: within a trigger the min-doc_id copy wins (pipe3's exact
    *    semantics); across triggers the state remembers admitted
    *    content keys, so a later re-ingest of the same text is dropped
    *    (strictly stronger than the batch twin, which only sees one
    *    batch — the store-collision half is what stage 3 covers).
    *    State: one boolean per admitted content key — the stored
    *    exact-dedup digest set (dd1's table) living in the state store,
    *    same stance as streamingIndexMaintenance's per-term stats.
    *  - Stage 5 reuses [[streamingManifestAppend]]'s fold in Append
    *    mode. Both stateful operators are Append-mode
    *    flatMapGroupsWithState, the combination Spark supports chaining
    *    in one query (StreamsSpec runs the whole pipeline end-to-end).
    *
    * Parity: on a single trigger the accepted set and manifest rows are
    * pipe3's bit-for-bit (StreamsSpec pins it against the real-corpus
    * pipe3 output); across triggers offsets append per
    * streamingManifestAppend's contract. The MinHash/Jaccard arithmetic
    * is the engine's exactly — md5-derived base hashes, the same
    * permutation constants, exact-integer Jaccard ≥ 0.8 on distinct
    * shingle hashes; verification touches only band-collision
    * candidates (bucket-capped), never the store at large.
    */
  def streamingIncrementalPrep(docs: Dataset[PrepDoc], store: PrepStore,
      nShards: Long = 8L, priors: Map[Long, (Long, Long)] = Map.empty)
      : Dataset[ManifestRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    streamingManifestAppend(
      dedupKeepMin(gateDocs(docs, store))
        .map(d => ManifestIn(d.doc_id, d.text.split(" ", -1).length.toLong)),
      nShards, priors, OutputMode.Append)
  }

  /** Stages 1/3/4 of the streaming ingest — the stateless per-doc gates
    * against the broadcast store model (see [[streamingIncrementalPrep]]).
    */
  private def gateDocs(docs: Dataset[PrepDoc], store: PrepStore)
      : Dataset[PrepDoc] = {
    val spark = docs.sparkSession
    val bStore = spark.sparkContext.broadcast(store)
    val accepted = docs
      .filter { d =>
        // stage 1: quality gate + held-out exclusion (pipe3's predicate)
        d.text.split(" ", -1).length >= 10 &&
          2L * d.text.count(c => c >= 'a' && c <= 'z') > d.n_chars &&
          d.doc_id % 10L != 0L
      }
      .filter { d =>
        val st = bStore.value
        val raw = rawShingleHashes(d.text) // ONE md5 pass serves both gates
        val sh = sortedDistinct(raw)
        val na = sh.length.toLong
        // stage 3: fuzzy gate — band-collision candidates, exact Jaccard
        val fuzzyDup = bandKeysFromHashes(raw).iterator
          .flatMap(k => st.bandIndex.getOrElse(k, Array.empty[Long]))
          .toArray.distinct.exists { oid =>
            val ob = st.storeShingles(oid)
            val common = sortedIntersectCount(sh, ob)
            common * 10L >= (na + ob.length - common) * 8L
          }
        // stage 4: decontamination — ≥20% shingle overlap drops the doc
        def nShared = sh.count(st.testShingles.contains).toLong
        !fuzzyDup && nShared * 5L < na
      }
    accepted
  }

  /** Stage 2 of the streaming ingest, shared by
    * [[streamingIncrementalPrep]] (manifest path) and
    * [[streamingIngestChunks]] (chunk path): content-keyed exact dedup
    * in Append mode — first admitted content wins (min doc_id within the
    * trigger, stored digest state across triggers).
    *
    * State-size contract: one boolean per ADMITTED content digest,
    * NoTimeout — the state store IS dd1's stored digest table, so it
    * grows with admitted-corpus history, not with trigger size (the
    * same stance as [[streamingIndexMaintenance]]'s per-term stats, and
    * deliberately unlike the bounded per-shard open-chunk state of
    * [[streamingChunkAssembly]]). At gate scale that is fine; at 100 TB
    * the digest set is a warehouse table (dd1's output) and this
    * operator's state holds only the RETENTION WINDOW the dedup
    * contract requires — either (a) a TTL via ProcessingTimeTimeout
    * when the product contract is "dedup within N days" (the
    * [[streamingNearDupGate]] pattern), or (b) the stored-table lookup
    * moving into [[gateDocs]]'s broadcast/join side exactly like the
    * fuzzy band index, with this operator deduping only within the
    * stream's own history window. The choice is a product decision
    * (forever-dedup needs the table; windowed dedup needs the TTL), so
    * the gate-scale twin keeps the simplest correct form.
    */
  private def dedupKeepMin(accepted: Dataset[PrepDoc]): Dataset[ChunkDocIn] = {
    val spark = accepted.sparkSession
    import spark.implicits._
    accepted
      .map(d => (org.apache.commons.codec.digest.DigestUtils.md5Hex(d.text),
        d.doc_id, d.text))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[(String, Long, String)],
         state: GroupState[Boolean]) => {
          if (state.exists) Iterator.empty
          else {
            var bestId = Long.MaxValue
            var bestText = ""
            it.foreach { case (_, id, t) =>
              if (id < bestId) { bestId = id; bestText = t }
            }
            state.update(true)
            Iterator.single(ChunkDocIn(bestId, bestText))
          }
        })
  }

  /** The FULL streaming ingest-to-trainer-layer pipeline: pipe3's gates
    * (stages 1–4, via [[streamingIncrementalPrep]]'s stateless gate +
    * [[dedupKeepMin]]) chained DIRECTLY into [[streamingChunkAssembly]]
    * — raw documents in, training chunks out, as one streaming query
    * with two Append-mode stateful operators. The batch twin of this
    * whole path is pipe3 ∘ pipe5; StreamsSpec pins chunk-level parity
    * against pipe5's real-corpus output through the actual chain.
    */
  def streamingIngestChunks(docs: Dataset[PrepDoc], store: PrepStore,
      nShards: Long = 8L,
      chunkPriors: Map[Long, ChunkState] = Map.empty): Dataset[ChunkRow] =
    streamingChunkAssembly(
      dedupKeepMin(gateDocs(docs, store)), nShards, chunkPriors)

  /** Input/state/output records for [[streamingChunkAssembly]]. */
  case class ChunkDocIn(doc_id: Long, text: String)
  case class ChunkState(chunkIdx: Long, toks: Seq[String], docIds: Seq[Long],
      rels: Seq[Long])
  case class ChunkRow(shard: Long, chunk_id: Long, n_tokens: Long,
      n_docs: Long, chunk_md5: String, n_seqs: Long, seq_starts_csv: String,
      is_full: Boolean)

  /** Streaming twin of pipe5's incremental chunk emission — the last
    * batch-only member of the nightly family re-expressed with the state
    * store as the OPEN CHUNK: per pk4 shard, state holds the
    * partially-filled tail chunk (its token buffer ≤ B tokens, the doc
    * ids contributing, and pk3's in-chunk doc-start offsets). Each
    * trigger's accepted docs sort by (md5-hkey, doc_id) within their
    * shard (the manifest order), append their tokens, and the operator
    * emits every chunk that CLOSES (is_full=true, immutable from then
    * on) plus the updated open-chunk snapshot (is_full=false) — exactly
    * pipe5's row set, with the same digests. Emission is an upsert feed
    * keyed by (shard, chunk_id): a later trigger's open-chunk row
    * supersedes an earlier one (the open-chunk rewrite), everything
    * is_full is emitted exactly once — the same latest-wins convention
    * as streamingHeavyHitters' candidate feed, kept in Append mode so
    * the operator chains behind [[streamingIncrementalPrep]]'s two
    * Append-mode stateful stages (ingest-to-trainer-layer as ONE
    * streaming query).
    *
    * `priors` seeds each shard's state with the stored open chunk
    * ([[buildChunkPriors]] derives it from the store the way pipe5's
    * boundary lookup does), so a stream started against an existing
    * store REWRITES its open chunks correctly.
    *
    * Scale: state is ≤ B tokens + ≤ B offsets per shard — nShards
    * buffers total, independent of history; per trigger, work is one
    * groupByKey shuffle of the batch's (doc_id, text) rows and a linear
    * walk of their tokens. StreamsSpec pins 1- and 2-trigger parity
    * against pipe5's real-corpus output (latest-wins per chunk key).
    */
  def streamingChunkAssembly(docs: Dataset[ChunkDocIn], nShards: Long = 8L,
      priors: Map[Long, ChunkState] = Map.empty): Dataset[ChunkRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val B = graft.operators.TrainPrep.packBudget.toInt
    docs
      .map(d => (d.doc_id, d.text, termHash(s"${d.doc_id}:42")))
      .groupByKey { case (_, _, hk) => java.lang.Math.floorMod(hk, nShards) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (shard: Long, it: Iterator[(Long, String, Long)],
         state: GroupState[ChunkState]) => {
          var st = state.getOption
            .orElse(priors.get(shard))
            .getOrElse(ChunkState(0L, Vector.empty, Vector.empty, Vector.empty))
          var chunkIdx = st.chunkIdx
          val toks = st.toks.toBuffer
          var docIds = st.docIds.toSet
          val rels = st.rels.toBuffer
          val out = scala.collection.mutable.ArrayBuffer.empty[ChunkRow]
          def closeChunk(full: Boolean): Unit = {
            out += ChunkRow(shard, chunkIdx, toks.length.toLong,
              docIds.size.toLong,
              org.apache.commons.codec.digest.DigestUtils
                .md5Hex(toks.mkString(" ")),
              rels.length.toLong, rels.sorted.mkString(","), full)
            if (full) { chunkIdx += 1; toks.clear(); docIds = Set.empty; rels.clear() }
          }
          it.toArray.sortBy { case (id, _, hk) => (hk, id) }
            .foreach { case (id, text, _) =>
              text.split(" ", -1).zipWithIndex.foreach { case (tok, i) =>
                // pk3 span offset: recorded at the doc's first token
                // (rel = buffer fill) and again at rel 0 whenever the
                // doc continues into a freshly-opened chunk
                if (i == 0 || toks.isEmpty) rels += toks.length.toLong
                docIds += id
                toks += tok
                if (toks.length == B) closeChunk(full = true)
              }
            }
          if (toks.nonEmpty) closeChunk(full = false)
          state.update(ChunkState(chunkIdx, toks.toVector, docIds.toVector.sorted,
            rels.toVector))
          out.iterator
        })
  }

  /** Strict-append projection of [[streamingChunkAssembly]]: only
    * CLOSED chunks (is_full = true), each emitted exactly once, never
    * superseded. [[streamingChunkAssembly]]'s raw feed is an UPSERT
    * keyed by (shard, chunk_id) — the open-chunk row is re-emitted each
    * trigger it grows, so a consumer with plain Append-sink semantics
    * (a file sink, a Kafka topic without compaction) double-counts the
    * rewrites unless it implements the documented latest-wins merge.
    * This variant is for exactly those consumers: the emitted set is a
    * true append-only log (a chunk id appears at most once per shard,
    * ever), at the cost of bounded staleness — each shard's open tail
    * (< B tokens) is invisible until it fills. Trainers reading full
    * packed chunks lose nothing; anything needing the open tail uses
    * the upsert feed + merge ([[streamingIngestChunks]] / RawZone
    * warehouseMerge).
    */
  def streamingFullChunksOnly(docs: Dataset[ChunkDocIn], nShards: Long = 8L,
      priors: Map[Long, ChunkState] = Map.empty): Dataset[ChunkRow] =
    streamingChunkAssembly(docs, nShards, priors).filter(_.is_full)

  /** Derive [[streamingChunkAssembly]] priors from the stored corpus:
    * per shard, docs in (md5-hkey, doc_id) order; the state is the open
    * chunk's tail — its chunk index, the tokens past the last full-chunk
    * boundary, the doc ids contributing them, and their pk3 span
    * offsets (a doc crossing into the open chunk contributes rel 0).
    */
  def buildChunkPriors(storeDocs: Seq[(Long, String)], nShards: Long = 8L)
      : Map[Long, ChunkState] = {
    val B = graft.operators.TrainPrep.packBudget
    storeDocs
      .groupBy { case (id, _) =>
        java.lang.Math.floorMod(termHash(s"$id:42"), nShards)
      }
      .map { case (shard, docs) =>
        val ordered = docs.sortBy { case (id, _) => (termHash(s"$id:42"), id) }
        var off = 0L
        val spans = ordered.map { case (id, text) =>
          val n = text.split(" ", -1).length.toLong
          val sp = (id, off, off + n, text); off += n; sp
        }
        val openStart = off / B * B
        val tail = spans.filter { case (_, _, e0, _) => e0 > openStart }
        val toks = tail.flatMap { case (_, s0, _, text) =>
          text.split(" ", -1).drop(math.max(0L, openStart - s0).toInt)
        }
        val rels = tail.map { case (_, s0, _, _) => math.max(s0 - openStart, 0L) }
          .sorted
        shard -> ChunkState(off / B, toks.toVector,
          tail.map(_._1).toVector.sorted, rels.toVector)
      }
  }

  /** Input/output records for [[streamingIndexAssign]]. */
  case class IndexDocIn(doc_id: Long, text: String)
  case class IndexCentroid(cdoc: Long, ck: Long, vc: Array[Long], cnrm: Long)
  case class IndexRow(doc_id: Long, chunk_id: Long, cell_doc: Long,
      cell_k: Long, vnrm: Long, dl: Long)

  /** Streaming maintenance of pipe6's RAG index — the ONLINE half of
    * the production split: centroids are (re)trained OFFLINE (pipe6's
    * build; sim10's Lloyd loop when learned), and each arriving doc's
    * chunks are hashed and assigned to the FIXED stored centroid table.
    * pk6's chunker is strictly per-doc (strided windows never cross
    * documents), t10's featurizer is per-token, and the argmax runs
    * against the broadcast k×16 table — so index maintenance is
    * completely STATELESS: no state store, no shuffle, any trigger,
    * linear in executor count. Emits pipe6RagIndex's exact row shape;
    * with the stored centroids and the same docs the rows are
    * bit-identical to the batch build (StreamingIndexSpec pins it,
    * including the zero-vector lexical-only exclusion and the argmax
    * tie-break). The JVM arithmetic mirrors the engine twins: termHash
    * IS t10's md5-60-bit hash, position arithmetic runs over the RAW
    * split array (empty tokens hold positions, contribute nothing),
    * and cosine ties break (cos desc, cdoc asc, ck asc).
    *
    * The honest scale caveat (dd11/sim9's): a drifting corpus
    * eventually needs centroid retraining — that is the offline path
    * (pipe6 rebuild), after which this assigner reads the new table;
    * the split is exactly FAISS's train-vs-add separation.
    */
  def streamingIndexAssign(docs: Dataset[IndexDocIn],
      cents: Seq[IndexCentroid]): Dataset[IndexRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val B = 64; val S = 48
    val bc = spark.sparkContext.broadcast(cents.toArray)
    docs.flatMap { doc =>
      val raw = doc.text.split(" ", -1)
      val n = raw.length
      val kCap = math.max(0L, (n.toLong - B + S - 1) / S)
      (0L to kCap).iterator.flatMap { k =>
        val lo = (k * S).toInt
        val hi = math.min(n.toLong, k * S + B).toInt
        val va = new Array[Long](16)
        var dl = 0L
        var i = lo
        while (i < hi) {
          val tok = raw(i)
          if (tok.nonEmpty) {
            val hm = termHash(tok)
            va((hm % 16L).toInt) += (if ((hm >> 4) % 2L == 0L) 1L else -1L)
            dl += 1L
          }
          i += 1
        }
        var vnrm = 0L
        var j = 0
        while (j < 16) { vnrm += va(j) * va(j); j += 1 }
        if (vnrm == 0L) Iterator.empty
        else {
          var bestCos = Double.NegativeInfinity
          var bestDoc = Long.MaxValue
          var bestK = Long.MaxValue
          bc.value.foreach { c =>
            var dot = 0L
            var m = 0
            while (m < 16) { dot += va(m) * c.vc(m); m += 1 }
            val cos = dot.toDouble /
              (math.sqrt(vnrm.toDouble) * math.sqrt(c.cnrm.toDouble))
            if (cos > bestCos ||
              (cos == bestCos && (c.cdoc < bestDoc ||
                (c.cdoc == bestDoc && c.ck < bestK)))) {
              bestCos = cos; bestDoc = c.cdoc; bestK = c.ck
            }
          }
          Iterator.single(IndexRow(doc.doc_id, k, bestDoc, bestK, vnrm, dl))
        }
      }
    }
  }

  /** Input/output records for [[streamingDsirGate]]. */
  case class DsirDocIn(doc_id: Long, text: String)
  case class DsirScore(doc_id: Long, n_feats: Long, imp_ppm: Long, keep: Boolean)

  /** mix3's ONLINE quality gate — the streaming half of the DSIR split,
    * exactly streamingIndexAssign's train-vs-serve separation: the
    * bucket weight table is maintained OFFLINE (mix4's nightly
    * stored+batch merge), and each arriving doc scores against the
    * BROADCAST B-row table — stateless, no state store, no shuffle, any
    * trigger, linear in executors. `weights` is mix4's (b → w) map;
    * `tn`/`cn` are the stored feature totals, needed because a new doc
    * can hash into a bucket the stored corpus never populated — its
    * weight is then the same Laplace floor the batch arithmetic
    * produces for tc=0/cc=0, computed here with identical integer
    * divisions. `thresholdPpm` is the admission cut (production: the
    * minimum selected score of the last nightly mix3 run — the gate
    * admits docs that would have made that selection).
    *
    * The JVM featurizer IS dsirFeatures' arithmetic: split on single
    * spaces keeping empties (Spark's split semantics), unigrams +
    * space-joined bigrams, termHash (t10's md5-60-bit) mod B. Score =
    * (Σ_b n_b·w_b) div Σ_b n_b — bit-parity with
    * [[graft.operators.TrainPrep.dsirScoreAll]] on the same weight
    * table is pinned by StreamingDsirSpec, unseen-bucket floor
    * included.
    */
  def streamingDsirGate(docs: Dataset[DsirDocIn], weights: Map[Long, Long],
      tn: Long, cn: Long, thresholdPpm: Long): Dataset[DsirScore] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val B = graft.operators.TrainPrep.dsirB // the batch featurizer's bucket count
    // the Laplace-floor weight of a bucket the stored corpus never saw
    // (tc = 0, cc = 0) — dsirScoreAll's exact expression at zero counts
    val floorW = (1000000000L / (tn + B)) * 1000000L /
      math.max(1L, 1000000000L / (cn + B))
    val bc = spark.sparkContext.broadcast(weights)
    docs.map { doc =>
      val raw = doc.text.split(" ", -1)
      val counts = new java.util.HashMap[Long, Long]()
      def add(f: String): Unit = {
        // termHash is 60-bit (15 hex chars) — always positive, so % is
        // exactly dsirFeatures' pmod
        counts.merge(termHash(f) % B, 1L, _ + _)
      }
      raw.foreach(add)
      var i = 0
      while (i < raw.length - 1) { add(raw(i) + " " + raw(i + 1)); i += 1 }
      var nf = 0L
      var sw = 0L
      counts.forEach { (b, n) =>
        nf += n
        sw += n * bc.value.getOrElse(b, floorW)
      }
      val imp = if (nf == 0L) 0L else sw / nf
      DsirScore(doc.doc_id, nf, imp, imp >= thresholdPpm)
    }
  }

  /** LATE-DATA ACCOUNTING: every watermark in this suite silently drops
    * rows that arrive behind it (tumbling/session aggregation,
    * stream-stream join, dropDuplicatesWithinWatermark) — correct for
    * state bounding, but at 100 TB the drop COUNT is an SLO: a spike
    * means an upstream producer lagged past the lateness budget and a
    * backfill is owed. Spark's public accounting is
    * `StreamingQueryProgress.stateOperators[*].numRowsDroppedByWatermark`
    * — per micro-batch, so `lastProgress` alone under-counts any stream
    * older than one batch. This listener (public
    * `StreamingQueryListener` API) accumulates the per-batch counts into
    * a per-query running total that survives the progress ring buffer;
    * attach with `spark.streams.addListener`, read
    * `droppedLateRows(query.id)`, alert on the derivative.
    */
  class LateDropAccumulator
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    private val totals =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    override def onQueryStarted(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
      val dropped = e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum
      if (dropped > 0)
        totals.merge(e.progress.id, Long.box(dropped),
          (a, b) => Long.box(a.longValue + b.longValue))
    }
    override def onQueryTerminated(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    /** Total rows dropped behind the watermark by `queryId`'s stateful
      * operators since the listener attached.
      */
    def droppedLateRows(queryId: java.util.UUID): Long =
      Option(totals.get(queryId)).map(_.longValue).getOrElse(0L)
  }

  /** Incremental append pipeline: one activation processes exactly the
    * files that arrived since the last checkpoint and stops — the
    * reference's Cloud-Scheduler→Job activation (T5) without the manual
    * HWM query (T1/T2): the checkpoint IS the high-water mark.
    */
  /** The NIGHTLY STORE ADVANCE as a streaming query — the pack store
    * stays current per TRIGGER instead of per night: each micro-batch of
    * document rows runs the stored gates (within-batch exact dedup,
    * fuzzy gate vs the stored band index, decontamination vs the stored
    * fingerprints, cursor-chained append offsets) and folds its accepted
    * docs into the next atomic store version via
    * [[graft.operators.TrainPrep.advanceStoreOver]] — the same commit,
    * under the same store-root lease, the batch nightly run makes, so
    * downstream pipe5FromStore/takedown consumers cannot tell which
    * cadence produced the version they read.
    *
    * Delivery semantics: foreachBatch is at-least-once, and the advance
    * is IDEMPOTENT under trigger replay by the store's own gates — a
    * replayed batch's accepted docs already sit in the band index, the
    * fuzzy gate drops them, the delta is empty and no version commits
    * (the spec re-runs a processed batch through a fresh checkpoint and
    * pins the version unchanged). Ordering: one advance at a time by
    * construction (foreachBatch triggers serialize within a query; a
    * SECOND concurrent writer fails loudly on the store lease).
    *
    * Scale: per-trigger compute is batch-sized (the pipe3FromStore
    * economics) — and so is the per-trigger WRITE since the layered
    * snapshot commit (Append deltas + Carry refs; see
    * [[graft.operators.TrainPrep.advanceStoreOver]]): a trigger costs
    * its own rows, never a store re-emit. MEASURED (ScaleProbe
    * `prod:stream-advance` arm, last at commit 561c6b9; sf0.1, the
    * nightly batch split into 4
    * per-file triggers, warm): 7.6 s/trigger against the 1× store vs
    * 4.9 s/trigger against the 10× store — FLAT in store size (the
    * 10× arm is faster on the warmer JVM; the gates dominate, exactly
    * the batch advance's 6.5 s shape plus foreachBatch/checkpoint
    * bookkeeping). Only non-empty triggers commit (the capture's 4
    * triggers commit 2 versions: later triggers' near-dups fuzzy-gate
    * against earlier triggers' commits — the cross-trigger gate
    * working as specced). The trade is chain depth — one layer per
    * non-empty trigger — so `maintain = Some((maxLayers, keep))` wires
    * [[graft.sources.Snapshots.maintain]] in after every trigger (the
    * self-deciding policy pass: metadata-only when healthy, chain cut
    * + vacuum the trigger it isn't — see [[maintainAfterTrigger]] for
    * why it is opt-in).
    *
    * Lease contention: a takedown ([[graft.sources.Takedown
    * .executeChunks]]) briefly holds the same store-root lease. Killing
    * the stream over a transient, legitimate writer would turn every
    * takedown into an operator page, so a locked trigger WAITS —
    * bounded retries with a fixed pause — and only a lease still held
    * past the whole window fails the trigger (that is no longer
    * "transient": something is stuck, and fail-loud is correct).
    * Waiting preserves ordering (the trigger retries, never skips).
    */
  def streamingStoreAdvance(docs: DataFrame, storeDir: String,
      checkpoint: String, lockRetries: Int = 20,
      lockWaitMs: Long = 3000L,
      maintain: Option[(Int, Int)] = None,
      runLogPath: Option[String] = None): DataStreamWriter[Row] =
    availableNowSink(docs, checkpoint) { (batch, _) =>
      waitingOutLease(lockRetries, lockWaitMs) {
        graft.operators.TrainPrep.advanceStoreOver(batch.sparkSession,
          batch, storeDir, runLogPath)
      }
      maintainAfterTrigger(batch.sparkSession, storeDir, maintain,
        lockRetries, lockWaitMs, runLogPath)
    }

  /** The VECTOR-INDEX twin of [[streamingStoreAdvance]]: each
    * micro-batch of new embeddings (vec_id, v, nrm, lbl) folds into the
    * published trained vector store via
    * [[graft.operators.VecStore.advance]] — assigned to the PINNED
    * stored centroids, encoded against the PINNED PQ codebooks, and
    * Append-committed, so the FromStore serving twins pick them up at
    * the next latest read. Same delivery posture as the other two
    * advancers: idempotent under trigger replay (tombstone ∪ membership
    * guard — a replayed batch commits nothing), one advance at a time
    * by foreachBatch serialization, a transiently-held root lease
    * waited out, the per-trigger maintenance hook bounding chain depth,
    * and one run-log row per non-no-op maintain. Freshness, not
    * retraining: [[graft.operators.VecStore.publish]] is the retrain.
    */
  def streamingVecAdvance(vecs: DataFrame, vecRoot: String,
      checkpoint: String, lockRetries: Int = 20,
      lockWaitMs: Long = 3000L,
      maintain: Option[(Int, Int)] = None,
      runLogPath: Option[String] = None): DataStreamWriter[Row] =
    availableNowSink(vecs, checkpoint) { (batch, _) =>
      waitingOutLease(lockRetries, lockWaitMs) {
        graft.operators.VecStore.advance(batch.sparkSession,
          batch, vecRoot, runLogPath)
      }
      maintainAfterTrigger(batch.sparkSession, vecRoot, maintain,
        lockRetries, lockWaitMs, runLogPath)
    }

  /** The SERVING-side twin of [[streamingStoreAdvance]]: each
    * micro-batch folds its documents into the published RAG index via
    * [[graft.operators.TrainPrep.advanceRagStore]] — new chunks
    * assigned to the pinned stored centroids and Append-committed, so
    * search6FromStore/search7FromStore serve them at the next latest
    * read. Same delivery posture: idempotent under trigger replay by
    * the chunklens membership guard (a replayed batch commits
    * nothing), one advance at a time by foreachBatch serialization, a
    * transiently-held root lease (the nightly rebuild, a takedown
    * republish) waited out with bounded retries. Same honest contract
    * as the batch advance: freshness between rebuilds, not retraining
    * — the recall ceiling is the nightly rebuild's job. MEASURED
    * (ScaleProbe `prod:stream-advance` arm, last at commit 561c6b9; the
    * fixed 20-doc batch split
    * into 4 per-file triggers, warm): 2.2–2.4 s/trigger at the 1× and
    * 10× published stores alike — flat in store size, the batch
    * rag-advance's 2.2–2.6 s shape per trigger (compute is O(trigger
    * chunks × k) against the broadcast centroids; the commit is
    * O(trigger) Append deltas).
    */
  def streamingRagAdvance(docs: DataFrame, ragRoot: String,
      checkpoint: String, lockRetries: Int = 20,
      lockWaitMs: Long = 3000L,
      maintain: Option[(Int, Int)] = None,
      runLogPath: Option[String] = None): DataStreamWriter[Row] =
    availableNowSink(docs, checkpoint) { (batch, _) =>
      waitingOutLease(lockRetries, lockWaitMs) {
        graft.operators.TrainPrep.advanceRagStore(batch.sparkSession,
          batch, ragRoot, runLogPath)
      }
      maintainAfterTrigger(batch.sparkSession, ragRoot, maintain,
        lockRetries, lockWaitMs, runLogPath)
    }

  /** The per-trigger MAINTENANCE hook both streaming advancers share:
    * when `maintain = Some((maxLayers, keep))`, run
    * [[graft.sources.Snapshots.maintain]] after the trigger's commit —
    * the policy pass is self-deciding (an already-healthy root pays two
    * metadata reads and writes nothing), so calling it every trigger IS
    * the cadence: chains compact the trigger they exceed `maxLayers`
    * and history vacuums to `keep` as it falls out of the window.
    * This is the streaming posture's missing half — a per-trigger
    * advance grows one chain layer per non-empty trigger, and a
    * deployment that never compacts accrues a directory-hop per
    * trigger in every store scan while pinning all history against
    * vacuum. Same lease-wait discipline as the advance itself (a
    * takedown transiently holding the root must not kill the stream).
    * Off (None) by default: retention (`keep`) is an operator policy
    * with compliance implications — [[graft.sources.Takedown]]'s SLA
    * owns erasure-driven vacuums — so the stream only maintains when
    * told the policy.
    *
    * OBSERVABILITY: each pass that actually did something (a chain cut
    * committed or history reclaimed) writes ONE run-log row — the same
    * visibility the batch-side completion flow gives its compact/vacuum
    * passes ([[graft.sources.Takedown.completeErasure]]); a no-op pass
    * (the common healthy-trigger case) logs nothing, so the trail
    * records the policy FIRING, not the cadence.
    */
  private def maintainAfterTrigger(s: org.apache.spark.sql.SparkSession,
      root: String, maintain: Option[(Int, Int)],
      lockRetries: Int, lockWaitMs: Long,
      runLogPath: Option[String] = None): Unit =
    maintain.foreach { case (maxLayers, keep) =>
      val t0 = System.nanoTime()
      val m = waitingOutLease(lockRetries, lockWaitMs) {
        graft.sources.Snapshots.maintain(s, root, maxLayers, keep)
      }
      if (m.compactedTo.isDefined || m.vacuumed.nonEmpty)
        runLogPath.foreach(p => graft.sources.RunLog.append(s, p, Seq(
          graft.sources.RunLog.entry(
            new java.sql.Timestamp(System.currentTimeMillis()),
            "stream_maintain", "maintain", m.vacuumed.size.toLong, t0, "ok",
            s"root=$root compacted_to=${m.compactedTo.getOrElse(-1L)} " +
              s"layers=${m.layersBefore}->${m.layersAfter} " +
              s"vacuumed=[${m.vacuumed.mkString(",")}]"))))
    }

  /** Bounded lease-wait shared by the per-trigger store advancers: a
    * LockedException is a transient, legitimate writer (takedown,
    * nightly rebuild) — wait and retry rather than page the operator;
    * a lease still held past the whole window is stuck, fail loudly.
    */
  private def waitingOutLease[T](lockRetries: Int, lockWaitMs: Long)(
      body: => T): T = {
    var attempts = 0
    while (true) {
      try return body
      catch {
        case e: graft.sources.CommitLock.LockedException =>
          attempts += 1
          if (attempts > lockRetries) throw e
          Thread.sleep(lockWaitMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def availableNowSink(transformed: DataFrame, checkpoint: String)(
      write: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    transformed.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, id: Long) => write(batch, id))
}
