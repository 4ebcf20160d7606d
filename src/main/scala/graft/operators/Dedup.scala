package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Deduplication operators over `documents` / `embeddings` — the
  * training-data-pipeline surface: exact hash dedup, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding-cosine near-dup, LSH-then-verify,
  * and connected-component cluster labeling.
  *
  * Engine portability: oracle-visible identities are md5-derived
  * (identical hex in Spark and DuckDB; 60-bit ints from the first 15 hex
  * chars, MinHash = affine permutations of that int mod 2^31-1 computed
  * identically in both engines). Spark-side-only shuffle keys use
  * xxhash64 (equivalent modulo 64-bit collisions). Cosines come from
  * micro-scaled integer vectors, so dot products and norms are exact and
  * the double division/sqrt is bit-deterministic in both engines.
  *
  * Scale: exact dedup and MinHash are groupBy/aggregate shapes (one
  * shuffle each on doc hash / band key) and every shuffle carries hashed
  * longs, never shingle strings. The all-pairs Jaccard (dd2) is the
  * exact baseline whose pair space grows with shared-shingle density —
  * ScaleProbe measures this — so at scale candidates come from the LSH
  * bands (dd3) with exact verification on candidates only (dd6), then
  * cluster labeling (dd7) picks canonical keepers.
  */
object Dedup {

  /** doc_id → one row per word-3-gram shingle occurrence (duplicates
    * included — dd2 dedups on hashed longs, dd3's min(md5) is
    * duplicate-insensitive). Built with a codegen-friendly generator:
    * explode a position sequence and assemble each shingle with
    * element_at/concat_ws, all codegen'd expressions. Higher-order
    * functions (transform/aggregate) are deliberately avoided here —
    * they are CodegenFallback (interpreted per element) and measurably
    * slower on this hot path.
    *
    * Scale: the generator runs inside the scan stage; the only shuffles
    * in the dedup operators are the semantically required ones
    * (candidate-pair join / band join / per-doc signature agg).
    */
  private[graft] def shingleRows(s: SparkSession, d: String): DataFrame =
    shingleRowsOf(Tables.documents(s, d))

  /** Same shingle generator over an arbitrary `(doc_id, text, …)` frame —
    * the composed pipelines (pipe2) shingle a FILTERED corpus, not the
    * raw table, so the generator is factored off the table loader.
    */
  private[operators] def shingleRowsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 3)).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("toks"), col("i") + 1),
        element_at(col("toks"), col("i") + 2),
        element_at(col("toks"), col("i") + 3)).as("s"))

  /** Oracle twin of [[shingleRowsOf]]: `t`/`sh` CTEs over an arbitrary
    * relation (a table name or an earlier CTE).
    */
  private[operators] def shinglesSqlCteOver(rel: String): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $rel),
       |sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
       |       FROM t, UNNEST(generate_series(1, greatest(len(toks)-2, 0))) u(i))""".stripMargin

  private[operators] val shinglesSqlCte = shinglesSqlCteOver("documents")

  // ---------------------------------------------------------------------
  // dd1_exact — exact dedup by content hash, keep-first (SURVEY A10
  // generalized; reference process_wistia_data_v2.py:314-344). One
  // hash-shuffle on the digest; at 100 TB this is the canonical
  // map-side-combine groupBy.
  private def dd1Exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  private val dd1Sql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd2_ngram_jaccard — near-dup pairs by word-3-gram Jaccard ≥ 0.8 via
  // shingle inverted index; threshold test in exact integer arithmetic
  // (common*10 ≥ 8*union).
  //
  // Spark-side plan: PREFIX FILTERING (the AllPairs/PPJoin principle).
  // Shingles are hashed to int64 before any shuffle; tokens get a global
  // canonical order (document frequency asc, hash asc — rarest first);
  // each doc indexes only its first n − ⌈0.8n⌉ + 1 tokens in that order.
  // For any pair with J ≥ 0.8, the overlap bound o ≥ 0.8/1.8·(na+nb)
  // together with the length ratio 0.8·max ≤ min forces the earliest
  // common token into BOTH prefixes — so the prefix inverted index
  // generates a complete candidate set that is a tiny fraction of the
  // full shared-token pair space (rare tokens pair few docs). Candidates
  // verify exactly with the codegen'd sorted-set intersect count.
  // Identical output to the naive inverted-index join (the oracle keeps
  // the full string formulation) modulo 64-bit hash collisions;
  // Dd2PrefixFilterSpec re-derives the naive plan and diffs.
  private[operators] def dd2NgramJaccard(s: SparkSession, d: String): DataFrame = {
    // ONE shingle scan collapsed straight to the per-doc sorted distinct
    // hash set (collect_set partial-aggregates map-side); the per-shingle
    // row frame `sh` is re-derived by a map-only explode, with n = |hs|
    // riding along — which deletes the old plan's separate verify-array
    // groupBy shuffle AND the per-doc count window (both consumed the
    // same information this one aggregate already holds)
    val hsDoc = shingleRows(s, d)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("h"))).as("hs"))
      .withColumn("n", size(col("hs")).cast("long"))
      .localCheckpoint() // referenced 3× (ranking explode, verify both sides)
    val sh = hsDoc.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
    val freq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "h")
    val ranked = sh.join(freq, "h")
      .withColumn("pos", row_number().over(wOrd))
    // prefix length n − ⌈0.8n⌉ + 1, with ⌈0.8n⌉ = (8n+9) div 10
    val prefix = ranked
      .filter(col("pos") <= col("n") - expr("(8*n+9) div 10") + 1)
      .select(col("doc_id"), col("h"), col("n"))
    val a = prefix.select(col("doc_id").as("ida"), col("h"), col("n").as("na"))
    val b = prefix.select(col("doc_id").as("idb"), col("h"), col("n").as("nb"))
    val cand = a.join(b, Seq("h"))
      .filter(col("ida") < col("idb") &&
        col("na") * 10L >= col("nb") * 8L && col("nb") * 10L >= col("na") * 8L)
      .select("ida", "idb").distinct()
    val hs = hsDoc
    cand
      .join(hs.select(col("doc_id").as("ida"), col("hs").as("ha"), col("n").as("na")), "ida")
      .join(hs.select(col("doc_id").as("idb"), col("hs").as("hb"), col("n").as("nb")), "idb")
      .withColumn("common",
        graft.functions.VectorFunctions.intersectCountSorted(col("ha"), col("hb")))
      .withColumn("uni", col("na") + col("nb") - col("common"))
      .filter(col("common") * 10L >= col("uni") * 8L)
      .select("ida", "idb", "common", "uni")
      .orderBy("ida", "idb")
  }

  private val dd2Sql =
    s"""WITH $shinglesSqlCte,
       |c AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
       |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
       |SELECT ida, idb, common, na.n + nb.n - common AS uni
       |FROM c JOIN n na ON na.doc_id = ida JOIN n nb ON nb.doc_id = idb
       |WHERE common * 10 >= (na.n + nb.n - common) * 8
       |ORDER BY ida, idb""".stripMargin

  // ---------------------------------------------------------------------
  // dd3_minhash_lsh — MinHash signatures banded 4×3; candidate pairs
  // share ≥1 band. The hash family is the standard universal-hash
  // construction: ONE md5 per shingle → 60-bit int → reduced mod p
  // (2^31-1), then 12 affine permutations (a_i·h + b_i) mod p whose mins
  // form the signature — 12× fewer digests than hashing per-seed, and
  // all permutation arithmetic stays in exact int64 (products < 2^62).
  // At scale: signature agg partial-aggregates map-side into one shuffle
  // of 12 longs per doc; the band self-join shuffles (long, long, int)
  // rows and its groups are tiny by construction.
  // private[graft]: the streaming incremental-prep twin (Streams) replays
  // the identical MinHash arithmetic in JVM code against these constants
  private[graft] val numHashes = 12
  private[graft] val rowsPerBand = 3
  private[graft] val numBands = numHashes / rowsPerBand
  private[graft] val P = 2147483647L // 2^31 - 1 (prime)
  private[graft] val permA: Seq[Long] = (0 until numHashes).map(i => (1000003L * (i + 1)) % P)
  private[graft] val permB: Seq[Long] = (0 until numHashes).map(i => (999983L * (2 * i + 1)) % P)

  // Spark-side plan: the min(permutation) signature partial-aggregates
  // map-side over raw shingle occurrences (no pre-DISTINCT shuffle — min
  // is duplicate-insensitive), so one shuffle of 12 longs per doc builds
  // all signatures. Band keys are xxhash64-compressed so the band
  // self-join shuffles (long, long, int) rows; the oracle keeps full
  // string keys, which is equivalent modulo 64-bit collisions.
  /** (doc_id, band, key) MinHash band rows — the LSH index frame — over
    * an arbitrary `(doc_id, text, …)` frame: the composed incremental
    * pipeline (TrainPrep.pipe3) builds its stored index over a
    * quality-GATED corpus, not the raw table.
    */
  private[operators] def bandFrameOf(docs: DataFrame): DataFrame = {
    val hm = graft.functions.VectorFunctions.md5Prefix60(col("s")) % P
    val sigCols = (0 until numHashes).map(i =>
      min((hm * permA(i) + permB(i)) % P).as(s"h$i"))
    val sig = shingleRowsOf(docs).groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    bandRowsFromSig(sig)
  }

  /** Per-doc `(doc_id, band, key)` band rows from a signature frame
    * carrying h0..h11 — the explode half of [[bandFrameOf]], shared with
    * the one-shingle-pass consumers (TrainPrep.pipe3).
    */
  private[operators] def bandRowsFromSig(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until numBands).map { b =>
      val key = concat_ws(",",
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i")): _*)
      struct(lit(b).as("band"), xxhash64(key).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** ONE shingle scan for the LSH-then-verify family: per-doc
    * `(doc_id, hs, n, h0..h11, sk)` where `hs` is the sorted distinct
    * xxhash64 shingle-hash set (the exact-verify array), `n = |hs|`, and
    * h0..h11/sk are the MinHash signature and its compressed key.
    *
    * The composed consumers previously paid the shingle explode + hash
    * TWICE per corpus (once for the md5-MinHash signature pass, once for
    * the xxhash verify-array pass) plus a distinct and a groupBy shuffle
    * each; here collect_set and the 12 mins partial-aggregate map-side
    * into a single per-doc shuffle of longs. Output columns are
    * bit-identical to the separate passes: min over occurrences ≡ min
    * over the distinct set, and collect_set ≡ distinct.
    */
  private[operators] def shingleProfileOf(docs: DataFrame): DataFrame = {
    val hm = graft.functions.VectorFunctions.md5Prefix60(col("s")) % P
    val sigCols = (0 until numHashes).map(i =>
      min((col("hm") * permA(i) + permB(i)) % P).as(s"h$i"))
    val aggs = sort_array(collect_set(col("h"))).as("hs") +: sigCols
    shingleRowsOf(docs)
      .select(col("doc_id"), xxhash64(col("s")).as("h"), hm.as("hm"))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("n", size(col("hs")).cast("long"))
      .withColumn("sk", sigKeyCol)
  }

  /** Distinct LSH candidate pairs (shared by dd3 and dd6's verify).
    *
    * Plan note (round 6): docs are first collapsed onto their FULL
    * 12-hash signature (one xxhash64 key), and the band self-join runs
    * over DISTINCT signatures — the same rewrite as dd8/mm4. An
    * n-member identical-signature cluster (exact dups and most
    * boilerplate near-dups land here) otherwise pays 4·C(n,2) band-join
    * rows before the pair distinct; over distinct signatures it pays 1,
    * and doc pairs re-expand afterwards (within-signature C(n,2) +
    * cross-signature). Output-identical to banding doc rows.
    */
  private def lshCandidates(s: SparkSession, d: String): DataFrame =
    lshCandidatesOf(Tables.documents(s, d))

  /** [[lshCandidates]] over an arbitrary `(doc_id, text, …)` frame
    * (shared with TrainPrep.pipe2's fuzzy-dedup stage).
    */
  private[operators] def lshCandidatesOf(docs: DataFrame): DataFrame = {
    val hm = graft.functions.VectorFunctions.md5Prefix60(col("s")) % P
    val sigCols = (0 until numHashes).map(i =>
      min((hm * permA(i) + permB(i)) % P).as(s"h$i"))
    val sig = shingleRowsOf(docs).groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      .withColumn("sk", sigKeyCol)
      .localCheckpoint() // referenced 3× (distinct values + both expand sides)
    lshCandidatesFromSig(sig)
  }

  /** xxhash64 key over the full 12-hash signature columns h0..h11. */
  private def sigKeyCol =
    xxhash64(concat_ws(",", (0 until numHashes).map(i => col(s"h$i")): _*))

  /** Candidate pairs from an already-MATERIALIZED signature frame
    * `(doc_id, h0..h11, sk, …)` — the caller owns the checkpoint (the
    * frame is referenced three times below). Shared by
    * [[lshCandidatesOf]] and the one-shingle-pass consumers
    * ([[dd6LshJaccard]], TrainPrep.pipe2) that derive signatures and
    * verify arrays from a single [[shingleProfileOf]] scan.
    */
  private[operators] def lshCandidatesFromSig(sig: DataFrame): DataFrame = {
    val vals = sig.dropDuplicates("sk")
    val bandStructs = (0 until numBands).map { b =>
      val key = concat_ws(",",
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i")): _*)
      struct(lit(b).as("band"), xxhash64(key).as("key"))
    }
    val bands = vals.select(col("sk"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("sk"), col("bk.band").as("band"), col("bk.key").as("key"))
    val vpairs = bands.select(col("sk").as("ka"), col("band"), col("key"))
      .join(bands.select(col("sk").as("kb"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("ka") < col("kb"))
      .select("ka", "kb").distinct()
    val docSk = sig.select(col("sk"), col("doc_id"))
    val cross = vpairs
      .join(docSk.select(col("sk").as("ka"), col("doc_id").as("ia")), "ka")
      .join(docSk.select(col("sk").as("kb"), col("doc_id").as("ib")), "kb")
      .select(least(col("ia"), col("ib")).as("ida"),
        greatest(col("ia"), col("ib")).as("idb"))
    val within = docSk.select(col("sk"), col("doc_id").as("ida"))
      .join(docSk.select(col("sk"), col("doc_id").as("idb")), "sk")
      .filter(col("ida") < col("idb"))
      .select("ida", "idb")
    cross.unionByName(within).distinct()
  }

  private def dd3MinhashLsh(s: SparkSession, d: String): DataFrame =
    lshCandidates(s, d).orderBy("ida", "idb")

  /** CTE chain ending in `cand(ida, idb)` — the oracle twin of
    * [[lshCandidates]].
    */
  /** The `hm`/`sig`/`bands`/`cand` CTE chain of the MinHash-LSH candidate
    * generator over an arbitrary shingle relation `sh(doc_id, s)` — ends
    * in `cand(ida, idb)`. Shared with TrainPrep.pipe2's oracle.
    */
  private[operators] def lshCandSqlCtesOver(sh: String): String = {
    val sigCols = (0 until numHashes)
      .map(i => s"min((hm * ${permA(i)} + ${permB(i)}) % $P) AS h$i").mkString(", ")
    val bandRows = (0 until numBands).map { b =>
      val key = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"h$i::VARCHAR").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString(" UNION ALL ")
    s"""hm AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT % $P AS hm FROM $sh),
       |sig AS (SELECT doc_id, $sigCols FROM hm GROUP BY doc_id),
       |bands AS ($bandRows),
       |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin
  }

  private val lshCandidatesSqlCtes: String =
    s"""$shinglesSqlCte,
       |${lshCandSqlCtesOver("sh")}""".stripMargin

  private val dd3Sql: String =
    s"""WITH $lshCandidatesSqlCtes
       |SELECT ida, idb FROM cand ORDER BY ida, idb""".stripMargin

  // ---------------------------------------------------------------------
  // dd6_lsh_jaccard — the composed 100 TB dedup plan: LSH candidate
  // generation (dd3) followed by exact Jaccard verification (dd2's
  // threshold) on candidates ONLY. ScaleProbe measured why: exact
  // all-pairs grows with the shared-shingle pair space, while the
  // LSH-then-verify pair space is bounded by band collisions. The verify
  // join ships each doc's distinct shingle-hash set once (sorted long
  // array) and intersects per pair with array_intersect (primitive
  // fast path).
  private def dd6LshJaccard(s: SparkSession, d: String): DataFrame = {
    // one shingle scan feeds BOTH the signature/candidate side and the
    // exact-verify arrays (see shingleProfileOf) — previously two full
    // explode+hash passes plus a distinct and a groupBy shuffle
    val prof = shingleProfileOf(Tables.documents(s, d)).localCheckpoint()
    val hs = prof.select(col("doc_id"), col("hs"), col("n"))
    val cand = lshCandidatesFromSig(prof)
    cand
      .join(hs.select(col("doc_id").as("ida"), col("hs").as("ha"), col("n").as("na")), "ida")
      .join(hs.select(col("doc_id").as("idb"), col("hs").as("hb"), col("n").as("nb")), "idb")
      .withColumn("common",
        graft.functions.VectorFunctions.intersectCountSorted(col("ha"), col("hb")))
      .withColumn("uni", col("na") + col("nb") - col("common"))
      .filter(col("common") * 10L >= col("uni") * 8L)
      .select("ida", "idb", "common", "uni")
      .orderBy("ida", "idb")
  }

  private val dd6Sql: String =
    s"""WITH $lshCandidatesSqlCtes,
       |c AS (SELECT ida, idb, COUNT(*) AS common
       |      FROM cand JOIN sh sa ON sa.doc_id = ida
       |                JOIN sh sb ON sb.doc_id = idb AND sb.s = sa.s
       |      GROUP BY 1, 2),
       |n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
       |SELECT ida, idb, common, na.n + nb.n - common AS uni
       |FROM c JOIN n na ON na.doc_id = ida JOIN n nb ON nb.doc_id = idb
       |WHERE common * 10 >= (na.n + nb.n - common) * 8
       |ORDER BY ida, idb""".stripMargin

  // ---------------------------------------------------------------------
  // dd4_simhash — SimHash over word occurrences: per-bit ±1 votes
  // weighted by term frequency, bit set when vote ≥ 0. 60-bit word hash
  // from md5 hex prefix (engine-portable). dd4 presents the 16-bit
  // variant; dd8 pairs on a 32-bit variant (sparser bands).
  private[graft] def simhashDf(s: SparkSession, d: String, bits: Int): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", graft.functions.VectorFunctions.md5Prefix60(col("w")))
    val bitVotes = (0 until bits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"v$i")
    }
    val voted = words.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    val simhash = (0 until bits).map { i =>
      when(col(s"v$i") >= 0L, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    voted.select(col("doc_id"), simhash.as("simhash"))
  }

  private def dd4Simhash(s: SparkSession, d: String): DataFrame =
    simhashDf(s, d, 16).orderBy("doc_id")

  private val dd4Sql: String = {
    val votes = (0 until 16).map { i =>
      s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i"
    }.mkString(", ")
    val hashExpr = (0 until 16).map { i =>
      s"CASE WHEN v$i >= 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH w AS (
       |  SELECT doc_id, ('0x' || substring(md5(u.w), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
       |       UNNEST(t.toks) AS u(w)),
       |v AS (SELECT doc_id, $votes FROM w GROUP BY doc_id)
       |SELECT doc_id, CAST($hashExpr AS BIGINT) AS simhash FROM v ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dd5_embed_neardup — near-dup pairs by embedding cosine ≥ 0.45 over
  // micro-scaled integer vectors (exact dot/norm; see Similarity for the
  // shared vector prep). Output cosine as floor(cos·1e6) to stay integer-
  // exact across engines. Brute-force pair space here; the LSH-bucketed
  // path (sim2) is the 100 TB variant.
  private def dd5EmbedNeardup(s: SparkSession, d: String): DataFrame = {
    // spread variant (§2.5): the O(n²/2) dot sweep streams the probe
    // side out of the scan stage — single-task without the spread
    val e = Similarity.scaledVectorsSpread(s, d)
    val a = e.select(col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("dot", graft.functions.VectorFunctions.dotLong(col("va"), col("vb")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cos") >= 0.45)
      .select(col("ida"), col("idb"), floor(col("cos") * 1000000).cast("long").as("cos_e6"))
      .orderBy("ida", "idb")
  }

  private val dd5Sql =
    s"""WITH ${Similarity.scaledVectorsSqlCte},
       |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb, a.nrm AS na, b.nrm AS nb,
       |  CAST((SELECT SUM(a.v[i] * b.v[i]) FROM UNNEST(generate_series(1, 64)) t(i)) AS BIGINT) AS dot
       |  FROM e a, e b WHERE a.vec_id < b.vec_id)
       |SELECT ida, idb,
       | CAST(floor(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) * 1000000) AS BIGINT) AS cos_e6
       |FROM p
       |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.45
       |ORDER BY ida, idb""".stripMargin

  // ---------------------------------------------------------------------
  // dd7_dedup_clusters — connected components over the near-dup pair
  // graph (dd2's Jaccard ≥ 0.8 pairs): every doc in a component labels
  // itself with the component's min doc_id (its canonical keeper) — the
  // cluster-then-keep-one step every production dedup pipeline ends with.
  //
  // Distributed algorithm: iterative min-label propagation with pointer
  // jumping — each round every node takes the min of its own and its
  // neighbors' labels, then shortcuts to its label's label
  // (label(x) ← label(label(x))), which contracts paths geometrically:
  // O(log diameter) rounds instead of O(diameter). Each round is two
  // joins + one aggregate with localCheckpoint lineage cuts; the driver
  // loop iterates over ACTIONS (a convergence count), never over rows.
  // Oracle: DuckDB recursive CTE computing the same min-reachable label.
  /** Min-label propagation with pointer jumping over an undirected pair
    * list `(ida, idb)`: returns `(doc_id, cluster_id)` for every node
    * appearing in a pair, cluster_id = min doc_id of the connected
    * component (the dd7 loop, factored so composed pipelines — pipe2's
    * fuzzy-dedup stage — can cluster their own verified pair graphs).
    * Eagerly executes (localCheckpoint per round); edges are
    * cluster-graph-sized, tiny next to the corpus.
    */
  private[operators] def propagateLabels(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("ida"), col("idb"))
      .unionByName(pairs.select(col("idb").as("ida"), col("ida").as("idb")))
      .localCheckpoint()
    // init is NOT pinned: it derives from the checkpointed edges by one
    // distinct and is consumed exactly once (round 1), whose result is
    // itself checkpointed — a pin here would only add an eager barrier
    var labels = edges.select(col("ida").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    // one min-label + pointer-jump step over (doc_id, old, label): every
    // node takes the min of its own and its neighbors' labels, then
    // shortcuts to its label's label (labels are always doc_ids of
    // member nodes, so the label's own label exists); `old` (the
    // materialized round's entry label) rides through untouched for the
    // convergence test. least() only ever decreases a label, so a
    // composite round that changes nothing was a fixed point at entry.
    def step(lab: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(lab.select(col("doc_id").as("idb"), col("label")), "idb")
        .groupBy(col("ida").as("doc_id"))
        .agg(min(col("label")).as("nbr_label"))
      val stepped = lab.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      stepped
        .join(stepped.select(col("doc_id").as("label"), col("label").as("ll")), "label")
        .select(col("doc_id"), col("old"), least(col("label"), col("ll")).as("label"))
    }
    var converged = false
    var iter = 0
    while (!converged && iter < 30) {
      // ONE step per materialized round (an attempted two-steps-per-
      // checkpoint variant DOUBLED the per-round plan — the nested step's
      // three references to its input re-derived the inner step's joins,
      // and the exchanges were not reused — measured dd7 2.2 → 4.2 s;
      // the single-step round is the cheaper shape). Convergence rides
      // the SAME job as the checkpoint materialization via observe() —
      // no separate count() pass. The name is session-unique
      // (Session.fresh): two propagateLabels loops (dd7/dd12 vs
      // pipe2/pipe4, different pair graphs) at the same iteration index
      // could otherwise latch each other's n_changed and stop a loop early.
      val obs = new org.apache.spark.sql.Observation(
        graft.Session.fresh(s"lp_conv_${iter}_"))
      val next = step(labels.withColumn("old", col("label")))
        .withColumn("changed", col("label") =!= col("old"))
        .observe(obs,
          coalesce(sum(when(col("changed"), 1L).otherwise(0L)), lit(0L))
            .as("n_changed"))
        .localCheckpoint()
      converged = obs.get("n_changed").asInstanceOf[Long] == 0L
      labels = next.select("doc_id", "label")
      iter += 1
    }
    // pointer jumping converges in O(log diameter); 30 rounds cover any
    // graph up to diameter ~2^30. Surface the pathological case instead
    // of returning partially-propagated labels.
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge after $iter rounds")
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  private def dd7DedupClusters(s: SparkSession, d: String): DataFrame =
    propagateLabels(dd2NgramJaccard(s, d).select(col("ida"), col("idb")))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")

  /** Recursive CTE chain ending in `lbl(doc_id, cluster_id)` — the
    * oracle twin of the dd7 label propagation (shared with dd12).
    */
  private val dd7SqlCtes =
    s"""WITH RECURSIVE $shinglesSqlCte,
       |c AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
       |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pairs AS (SELECT ida, idb
       |  FROM c JOIN n na ON na.doc_id = ida JOIN n nb ON nb.doc_id = idb
       |  WHERE common * 10 >= (na.n + nb.n - common) * 8),
       |edges AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
       |rr AS (
       |  SELECT ida AS doc_id, idb AS reach FROM edges
       |  UNION
       |  SELECT rr.doc_id, e.idb FROM rr JOIN edges e ON e.ida = rr.reach),
       |lbl AS (SELECT doc_id, LEAST(doc_id, MIN(reach)) AS cluster_id
       |        FROM rr GROUP BY doc_id)""".stripMargin

  private val dd7Sql =
    s"""$dd7SqlCtes
       |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
       |FROM lbl ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd8_simhash_pairs — SimHash near-dup pairing by pigeonhole banding:
  // split a 32-bit simhash into 3 bands (11/11/10 bits); any pair within
  // Hamming distance ≤ 2 differs in at most 2 bands, so it must agree
  // exactly on at least one — band equi-joins generate complete
  // candidates, then bit_count(xor) verifies the distance. The same
  // band-join shape as MinHash-LSH, so the shuffle profile is identical
  // (sparse band groups, (long, int, long) rows); this is how SimHash
  // dedup runs at web scale (Manku et al.'s approach, composed from
  // stock Spark ops).
  // Plan note (round 6): bands are built over DISTINCT simhash VALUES,
  // not doc rows — the same rewrite that took mm4's 10× probe from
  // 225 s to 33 s. An n-member identical-sketch cluster otherwise costs
  // 3·C(n,2) band-join work before the verify; over distinct values it
  // costs 1 row, and doc pairs re-expand afterwards (within-value at
  // Hamming 0 via a value self-join, cross-value from the banded value
  // pairs). Output-identical; the residual 10× cost is enumerating the
  // ~50×-grown true pair list itself.
  private def dd8SimhashPairs(s: SparkSession, d: String): DataFrame = {
    // one row per doc, referenced 3× (value frame + both expansion
    // sides) — materialize once instead of recomputing the 32-vote agg
    val sim = simhashDf(s, d, 32).localCheckpoint()
    val vals = sim.select("simhash").distinct().localCheckpoint()
    val bandCols = Seq(
      (col("simhash") % 2048L).as("b"),
      (shiftright(col("simhash"), 11) % 2048L).as("b"),
      (shiftright(col("simhash"), 22) % 1024L).as("b"))
    val bands = bandCols.zipWithIndex.map { case (b, i) =>
      vals.select(col("simhash"), lit(i).as("band"), b)
    }.reduce(_ unionByName _)
    val vpairs = bands.select(col("simhash").as("ha"), col("band"), col("b"))
      .join(bands.select(col("simhash").as("hb"), col("band"), col("b")),
        Seq("band", "b"))
      .filter(col("ha") < col("hb"))
      .select("ha", "hb").distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= 2L)
    val cross = vpairs
      .join(sim.select(col("simhash").as("ha"), col("doc_id").as("ia")), "ha")
      .join(sim.select(col("simhash").as("hb"), col("doc_id").as("ib")), "hb")
      .select(least(col("ia"), col("ib")).as("ida"),
        greatest(col("ia"), col("ib")).as("idb"), col("hamming"))
    val within = sim.select(col("simhash"), col("doc_id").as("ida"))
      .join(sim.select(col("simhash"), col("doc_id").as("idb")), "simhash")
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"), lit(0L).as("hamming"))
    cross.unionByName(within).orderBy("ida", "idb")
  }

  private val dd8Sql: String = {
    val votes = (0 until 32).map { i =>
      s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i"
    }.mkString(", ")
    val hashExpr = (0 until 32).map { i =>
      s"CASE WHEN v$i >= 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH w AS (
       |  SELECT doc_id, ('0x' || substring(md5(u.w), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
       |       UNNEST(t.toks) AS u(w)),
       |v AS (SELECT doc_id, $votes FROM w GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($hashExpr AS BIGINT) AS simhash FROM v),
       |bands AS (
       |  SELECT doc_id, 0 AS band, simhash % 2048 AS b FROM sim
       |  UNION ALL SELECT doc_id, 1, (simhash // 2048) % 2048 FROM sim
       |  UNION ALL SELECT doc_id, 2, (simhash // 4194304) % 1024 FROM sim),
       |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.b = b.b AND a.doc_id < b.doc_id)
       |SELECT ida, idb,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
       |FROM cand JOIN sim sa ON sa.doc_id = ida JOIN sim sb ON sb.doc_id = idb
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 2
       |ORDER BY ida, idb""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dd9_embed_lsh — the bucketed embedding near-dup path (de-weaks dd5's
  // crossJoin the way dd6 anchors dd2): 128 random-hyperplane sign bits
  // per vector (Rademacher ±1 planes from a multiplicative-hash mixer —
  // deterministic and bit-identical in Spark and DuckDB), banded 32×4;
  // pairs agreeing on any band become candidates; exact integer
  // cosine verifies candidates only. Output ≡ dd5 restricted to banded
  // candidates.
  //
  // Scale: the sketch is a map-only pass of 128 codegen'd constant-vector
  // DotLongs per row; candidates shuffle on (band, code) — never the
  // O(n²) cross product. Recall/cost follows the standard
  // 1-(1-p^r)^B curve (p = 1-θ/π). The corpus' near-dups sit at
  // cos 0.45–0.6 — a deliberately hard, LSH-unfriendly operating point —
  // where r=4/B=32 measures 11/14 recall at 0.51× the brute-force pair
  // work (Dd9RecallSpec pins both); at a production near-dup threshold
  // (τ ≥ 0.8) the same plan is simultaneously selective and
  // high-recall. There is no sub-quadratic exact method at low τ for
  // dense vectors — dd5 stays the exact oracle.
  /** (vec_id, v, nrm, codes[32]) with band codes from the single-loop
    * native sketch expression, checkpointed once (used by the band
    * explode and both verify sides).
    */
  private[operators] def dd9Sketch(s: SparkSession, d: String): DataFrame =
    // spread variant (§2.5): the 128 constant-vector DotLongs per row are
    // the whole sketch cost and ran inside the single-split scan task.
    // dd9 keeps the spread input (two full-bench runs measured 0.63–0.68×);
    // sim11 consumes the BARE variant below — the same two runs measured
    // the spread one 1.17–1.21× THERE (its downstream band/verify joins
    // dominate and the extra partitions only add per-stage task overhead).
    dd9SketchOf(Similarity.scaledVectorsSpread(s, d))

  private[operators] def dd9SketchOf(e: DataFrame): DataFrame =
    e.withColumn("codes",
        graft.functions.VectorFunctions.hyperplaneBands(col("v"), 128, 4))
      .localCheckpoint()

  /** Band buckets larger than this are skipped entirely: an over-full
    * bucket means those hyperplanes don't discriminate in that region of
    * the space (its all-pairs expansion is a disguised cross product),
    * the same reasoning as dd2 indexing only rare tokens. Bounds the
    * candidate count by B·(n/cap)·C(cap,2) ≈ linear in n. Gate corpus
    * max bucket is 102 (cap inactive → dd9 output unaffected); the 10×
    * probe corpus has 4.9k-member buckets → 695M candidate slots
    * uncapped vs 7.6M capped (measured).
    */
  private[graft] val dd9MaxBucket = 400L // shared: pipe3's store-bucket guard reuses this cap

  private[operators] def dd9Candidates(eb: DataFrame): DataFrame = {
    val bands = eb.select(col("vec_id"),
      posexplode(col("codes")).as(Seq("band", "code")))
      .localCheckpoint() // referenced 3×: counts + both join sides
    // ≤ 512 (band, code) groups exist — the size table is broadcastable
    val keep = broadcast(bands.groupBy("band", "code").count()
      .filter(col("count") <= dd9MaxBucket).select("band", "code"))
    val kept = bands.join(keep, Seq("band", "code"))
    kept.select(col("vec_id").as("ida"), col("band"), col("code"))
      .join(kept.select(col("vec_id").as("idb"), col("band"), col("code")),
        Seq("band", "code"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
  }

  private def dd9EmbedLsh(s: SparkSession, d: String): DataFrame = {
    val eb = dd9Sketch(s, d)
    dd9Candidates(eb)
      .join(eb.select(col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na")), "ida")
      .join(eb.select(col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb")), "idb")
      .withColumn("dot", graft.functions.VectorFunctions.dotLong(col("va"), col("vb")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cos") >= 0.45)
      .select(col("ida"), col("idb"), floor(col("cos") * 1000000).cast("long").as("cos_e6"))
      .orderBy("ida", "idb")
  }

  private val dd9Sql =
    s"""WITH ${Similarity.scaledVectorsSqlCte},
       |sig AS (
       |  SELECT e.vec_id, t.b,
       |    CASE WHEN (SELECT SUM((CASE WHEN
       |        ((((((t.b*64 + u.i - 1) * 2654435761) % 2147483648) * 2654435761) % 2147483648) >> 15) & 1 = 0
       |        THEN 1 ELSE -1 END) * e.v[u.i])
       |        FROM UNNEST(generate_series(1, 64)) u(i)) >= 0 THEN 1 ELSE 0 END AS s
       |  FROM e, UNNEST(generate_series(0, 127)) t(b)),
       |bc AS (SELECT vec_id, b // 4 AS band, SUM(s * (1 << (b % 4))) AS code
       |       FROM sig GROUP BY 1, 2),
       |keep AS (SELECT band, code FROM bc GROUP BY band, code
       |         HAVING COUNT(*) <= 400),
       |bk AS (SELECT bc.* FROM bc JOIN keep USING (band, code)),
       |cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.code = b.code
       |    AND a.vec_id < b.vec_id),
       |p AS (SELECT c.ida, c.idb, a.nrm AS na, b.nrm AS nb,
       |  CAST((SELECT SUM(a.v[i] * b.v[i]) FROM UNNEST(generate_series(1, 64)) t(i)) AS BIGINT) AS dot
       |  FROM cand c JOIN e a ON a.vec_id = c.ida JOIN e b ON b.vec_id = c.idb)
       |SELECT ida, idb,
       | CAST(floor(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) * 1000000) AS BIGINT) AS cos_e6
       |FROM p
       |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.45
       |ORDER BY ida, idb""".stripMargin

  // ---------------------------------------------------------------------
  // dd12_keep_best — the kept-corpus emission that ends a production
  // dedup pipeline: dd7's clusters pick ONE representative each, but by
  // QUALITY (most tokens; tie → lowest id), not merely the min-id
  // canonical — "keep the longest copy" is the standard boilerplate/
  // truncation-robust policy. Docs outside any cluster keep themselves.
  // Output is one verdict row per corpus doc: cluster, token count, kept.
  //
  // Scale: representative selection is one map-side-combined
  // max-of-struct aggregate over (n_tokens, -doc_id) — ≤1 row per
  // cluster survives to shuffle — joined back broadcast-or-hash by AQE;
  // the verdict emission is map-only against the cluster frame.
  /** Representative selection over MATERIALIZED cluster labels — the
    * reusable production shape: the clustering job (dd7) writes its
    * label table once, and every downstream pass (keep-best here, stats,
    * span removal) reads it instead of recomputing the pair graph.
    * dd12's gate query recomputes labels inline only because the
    * correctness gate is stateless. Timed alone on pre-materialized
    * labels (ScaleProbe `dd12_labels` arm, last at commit 561c6b9) it is
    * FLAT, 0.6→0.8 s at 1×→10×, where dd12 inline is 5.5→38.8 s.
    */
  private[graft] def keepBest(docs: DataFrame, labels: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val lab = toks.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val rep = lab.groupBy("cluster_id")
      .agg(max(struct(col("n_tokens"), (-col("doc_id")).as("neg"))).as("b"))
      .select(col("cluster_id"), (-col("b.neg")).as("rep_id"))
    lab.join(rep, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("n_tokens"),
        (col("doc_id") === col("rep_id")).as("kept"))
  }

  private def dd12KeepBest(s: SparkSession, d: String): DataFrame =
    keepBest(Tables.documents(s, d),
      dd7DedupClusters(s, d).select("doc_id", "cluster_id"))
      .orderBy("doc_id")

  private val dd12Sql =
    s"""$dd7SqlCtes,
       |tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |la AS (SELECT tk.doc_id, tk.n_tokens,
       |    COALESCE(lbl.cluster_id, tk.doc_id) AS cluster_id
       |  FROM tk LEFT JOIN lbl ON lbl.doc_id = tk.doc_id),
       |rep AS (SELECT cluster_id, doc_id AS rep_id FROM (
       |    SELECT cluster_id, doc_id, row_number() OVER (
       |      PARTITION BY cluster_id ORDER BY n_tokens DESC, doc_id) AS rn
       |    FROM la) WHERE rn = 1)
       |SELECT la.doc_id, la.cluster_id, la.n_tokens, la.doc_id = rep.rep_id AS kept
       |FROM la JOIN rep USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd11_incremental_dedup — dedup a NEW INGEST BATCH against an existing
  // corpus without re-pairing the corpus: the pattern every continuously-
  // fed 100 TB pipeline actually runs (the batch self-joins dd2/dd3/dd6
  // answer "dedup the corpus once"; this answers "is tonight's batch new").
  // The existing corpus's MinHash band rows are a stored INDEX (in
  // production a table bucketed on (band, key), appended per ingest —
  // here the same band construction, checkpointed to stand for the
  // stored frame); per batch, only the new docs are shingled and
  // signed, and the probe join touches only colliding buckets. Verified
  // matches use the exact-Jaccard gate on candidate pairs only (dd6's
  // threshold), fetching shingle sets just for the docs involved.
  // Output is per NEW doc: dup verdict, match count, lowest matching
  // corpus doc — O(batch) rows regardless of corpus size.
  private def dd11IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val isNew = col("doc_id") % 5 === 0 // tonight's batch: every 5th doc
    // ONE materialized shingle pass (shingleProfileOf) serves both sides
    // AND the verify arrays below — previously the corpus was exploded +
    // hashed twice (band signature pass, verify-array pass); in
    // production the index side is a stored bucketed table and ONLY the
    // new batch is signed per ingest
    val prof = shingleProfileOf(Tables.documents(s, d)).localCheckpoint()
    val bands = bandRowsFromSig(prof)
    val index = bands.filter(!isNew) // stands for the stored index
    val probe = bands.filter(isNew)
    // candidate pairs are O(batch·bucketDegree) — small enough to pin,
    // and pinned so the band self-join runs exactly once (hs below joins
    // against cand-derived ids twice; without the checkpoint each use
    // would recompute the join)
    val cand = probe.select(col("doc_id").as("nid"), col("band"), col("key"))
      .join(index.select(col("doc_id").as("oid"), col("band"), col("key")),
        Seq("band", "key"))
      .select("nid", "oid").distinct()
      .localCheckpoint()
    // verify arrays come straight off the pinned profile: a broadcast
    // semi join per side of the pair join (the candidate id set is
    // bounded by the batch's bucket collisions), map-only over the
    // checkpointed frame — no second corpus shingle pass, no extra pin.
    val candIds = cand.select(col("nid").as("doc_id"))
      .union(cand.select(col("oid").as("doc_id"))).distinct()
    val hs = prof
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("hs"), col("n"))
    val verified = cand
      .join(hs.select(col("doc_id").as("nid"), col("hs").as("ha"), col("n").as("na")), "nid")
      .join(hs.select(col("doc_id").as("oid"), col("hs").as("hb"), col("n").as("nb")), "oid")
      .withColumn("common",
        graft.functions.VectorFunctions.intersectCountSorted(col("ha"), col("hb")))
      .filter(col("common") * 10L >= (col("na") + col("nb") - col("common")) * 8L)
      .groupBy("nid")
      .agg(count(lit(1)).as("n_dups"), min(col("oid")).as("dup_of"))
    Tables.documents(s, d).filter(isNew).select(col("doc_id"))
      .join(verified.withColumnRenamed("nid", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_dups").isNotNull.as("is_dup"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"), col("dup_of"))
      .orderBy("doc_id")
  }

  private val dd11Sql: String =
    s"""WITH $lshCandidatesSqlCtes,
       |c2 AS (SELECT DISTINCT p.doc_id AS nid, i.doc_id AS oid
       |  FROM bands p JOIN bands i ON p.band = i.band AND p.key = i.key
       |  WHERE p.doc_id % 5 = 0 AND i.doc_id % 5 <> 0),
       |cm AS (SELECT nid, oid, COUNT(*) AS common
       |  FROM c2 JOIN sh sa ON sa.doc_id = nid
       |          JOIN sh sb ON sb.doc_id = oid AND sb.s = sa.s
       |  GROUP BY 1, 2),
       |n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |v AS (SELECT nid, COUNT(*) AS n_dups, MIN(oid) AS dup_of
       |  FROM cm JOIN n na ON na.doc_id = nid JOIN n nb ON nb.doc_id = oid
       |  WHERE common * 10 >= (na.n + nb.n - common) * 8
       |  GROUP BY 1)
       |SELECT d.doc_id, v.nid IS NOT NULL AS is_dup,
       |  COALESCE(v.n_dups, 0) AS n_dups, v.dup_of
       |FROM documents d LEFT JOIN v ON v.nid = d.doc_id
       |WHERE d.doc_id % 5 = 0
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd13_substring_dedup — exact REPEATED-SPAN detection across documents
  // (the suffix-array exact-substring dedup family, cf. Lee et al. 2022
  // "Deduplicating Training Data Makes Language Models Better": training
  // corpora contain long verbatim spans — boilerplate, licenses, quoted
  // text — that doc-level (dd1) and set-similarity (dd2–dd9) dedup both
  // miss). Spark-native bucketed formulation instead of a suffix array:
  //  1. slide a fixed W=8-token window over every doc (map-only explode;
  //     grams hash to int64 before any shuffle);
  //  2. a gram is REPEATED iff it occurs in ≥2 distinct docs — distinct
  //     (h, doc_id) then count per h, both map-side-combinable shuffles
  //     of hashed longs;
  //  3. semi-join each doc's gram positions against the repeated-hash
  //     set (output pruned to repeated positions only);
  //  4. merge consecutive repeated positions into MAXIMAL spans with the
  //     gaps-and-islands pattern (i − row_number() constant within a
  //     run) — one per-doc window over the pruned rows.
  // Output: one row per maximal span (doc_id, span_start, span_end,
  // span_tokens), token indices 0-based inclusive. A span's every
  // W-gram occurs verbatim in some other doc — the "cut candidates" a
  // training pipeline hands to its span-removal pass.
  //
  // Scale: no pair enumeration anywhere — cost is O(corpus positions)
  // map-side plus shuffles bounded by (distinct grams) + (repeated
  // positions). The per-doc island window sorts only each doc's
  // REPEATED positions (pruned rows), not the corpus. Hash caveat as
  // dd2: xxhash64 grams, identical modulo 64-bit collisions (the oracle
  // keeps full gram strings).
  private val W13 = 8
  private def dd13SubstringDedup(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= W13)
    val grams = toks
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - W13)).as("i"))
      .select(col("doc_id"), col("i"),
        xxhash64(concat_ws(" ", slice(col("toks"), col("i") + 1, lit(W13)))).as("h"))
    val repeated = grams.select(col("h"), col("doc_id")).distinct()
      .groupBy("h").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2L)
      .select("h")
    val repPos = grams.join(repeated, Seq("h"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
    repPos
      .withColumn("isl", col("i") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("i")).as("span_start"),
        (max(col("i")) + lit(W13 - 1)).as("span_end"),
        (max(col("i")) - min(col("i")) + lit(W13)).as("span_tokens"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        col("span_tokens").cast("long").as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  private val dd13Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, i, array_to_string(toks[i:i+${W13 - 1}], ' ') AS gram
       |  FROM t, UNNEST(generate_series(1, len(toks) - ${W13 - 1})) u(i)
       |  WHERE len(toks) >= $W13),
       |rep AS (SELECT gram FROM (
       |    SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1) WHERE nd >= 2),
       |rp AS (SELECT doc_id, i FROM g WHERE gram IN (SELECT gram FROM rep)),
       |isl AS (SELECT doc_id, i,
       |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS k FROM rp)
       |SELECT doc_id, CAST(MIN(i) - 1 AS BIGINT) AS span_start,
       |  CAST(MAX(i) - 1 + ${W13 - 1} AS BIGINT) AS span_end,
       |  CAST(MAX(i) - MIN(i) + $W13 AS BIGINT) AS span_tokens
       |FROM isl GROUP BY doc_id, k ORDER BY doc_id, span_start""".stripMargin

  // ---------------------------------------------------------------------
  // dd14_residual_corpus — the CUT pass that consumes dd13's spans: every
  // repeated span is removed from every doc, and what remains (plus the
  // untouched docs) is the residual corpus a training pipeline feeds
  // forward. Deterministic by construction (pure function of the span
  // table); the canonical copies of the removed content live in dd12's
  // kept representatives, so nothing is lost corpus-wide.
  //
  // Spark plan: explode the token stream once (map-only); explode the
  // spans into removed positions (bounded by corpus positions — spans
  // are disjoint per doc); cut with a LEFT ANTI hash join on
  // (doc_id, i) — all whole-stage codegen, no higher-order functions on
  // the per-token path (an exists()-over-span-array variant ran the
  // interpreted HOF once per corpus token; same-JVM alternating A/B at
  // the adversarial 10× probe, where ~every token is removed: HOF
  // median 30.1 s / min 16.5 s vs this shape 23.4 s / 13.0 s); then one
  // groupBy per doc reassembles the kept tokens in order (the only
  // per-doc HOF work, once per doc).
  private def dd14ResidualCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val removed = dd13SubstringDedup(s, d)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("i"))
    val pos = docs
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1)).as("i"))
      .select(col("doc_id"), col("i"),
        element_at(col("toks"), col("i") + 1).as("tok"))
    val kept = pos.join(removed, Seq("doc_id", "i"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("i"), col("tok")))),
            x => x("tok"))).as("clean_text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy("doc_id")
  }

  private val dd14Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, i, array_to_string(toks[i:i+${W13 - 1}], ' ') AS gram
       |  FROM t, UNNEST(generate_series(1, len(toks) - ${W13 - 1})) u(i)
       |  WHERE len(toks) >= $W13),
       |rep AS (SELECT gram FROM (
       |    SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1) WHERE nd >= 2),
       |rp AS (SELECT doc_id, i FROM g WHERE gram IN (SELECT gram FROM rep)),
       |isl AS (SELECT doc_id, i,
       |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS k FROM rp),
       |spans AS (SELECT doc_id, MIN(i) AS s, MAX(i) + ${W13 - 1} AS e
       |  FROM isl GROUP BY doc_id, k),
       |p AS (SELECT doc_id, i, toks[i] AS tok
       |  FROM t, UNNEST(generate_series(1, len(toks))) u(i)),
       |kept AS (SELECT p.doc_id, p.i, p.tok FROM p
       |  WHERE NOT EXISTS (SELECT 1 FROM spans s
       |    WHERE s.doc_id = p.doc_id AND p.i BETWEEN s.s AND s.e))
       |SELECT t.doc_id,
       |  COALESCE(k.clean_text, '') AS clean_text,
       |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(len(t.toks) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
       |FROM t LEFT JOIN (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY i) AS clean_text
       |  FROM kept GROUP BY doc_id) k ON k.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd15_containment — ASYMMETRIC near-containment: emit (ida, idb)
  // where ≥90% of doc A's shingle set occurs in doc B (C(A→B) =
  // |A∩B|/|A| ≥ 0.9). The quote/subset case symmetric Jaccard (dd2/dd6)
  // misses: a short doc pasted into a long one has high containment but
  // low Jaccard, and training pipelines drop the contained copy.
  //
  // Spark plan — containment AllPairs (the asymmetric variant of dd2's
  // prefix filter), hardened with two LOSSLESS guards so a degenerate
  // corpus can't explode the candidate join (the round-7 verdict's nit):
  //
  // 1. DISTINCT-SET COLLAPSE (mm4/dd8's distinct-sketch move, applied
  //    to whole shingle sets): docs with identical shingle SETS have
  //    identical containment against everything, so candidate
  //    generation + exact verification run once per distinct set (one
  //    representative each) and results expand to member doc pairs at
  //    the end. Identical-set members are mutually 100%-contained, so
  //    intra-group ordered pairs emit directly with common = n. On the
  //    verdict's adversarial corpus — every doc drawn from the same
  //    tiny phrase set — n docs collapse to k ≪ n distinct sets:
  //    candidates are O(k²) worst case however large df gets, and the
  //    member expansion is pure output.
  // 2. PPJOIN POSITIONAL FILTER: both sides of the candidate join carry
  //    the token's position in the SAME global canonical order
  //    (df-ascending, hash-ascending). A match of A's prefix token at
  //    posA with B's token at posB can only extend to an overlap of
  //    1 + min(na−posA, nb−posB), because all further shared tokens
  //    sit after both positions in the shared order — so matches with
  //    1 + min(na−posA, nb−posB) < ⌈0.9·na⌉ are dropped before the
  //    pair ever materializes. Lossless: for a truly-contained pair the
  //    FIRST shared token in canonical order lies in A's prefix
  //    (pigeonhole) and passes the bound by construction. Net effect:
  //    a high-df token only fans out against entries EARLY in their
  //    doc's order (posB ≤ nb − ⌈0.9·na⌉ + 1), not its whole posting
  //    list.
  //
  // There is no length-ratio bound under containment (a tiny A may be
  // contained in any size B), so only the PROBE side prefixes — A
  // indexes its na − ⌈0.9·na⌉ + 1 globally-rarest tokens (pigeonhole:
  // common ≥ ⌈0.9·na⌉ forces a shared token into A's prefix). Exact
  // verification (codegen'd sorted-set intersect) runs on surviving
  // set-level candidates only. Threshold exact-integer: common·10 ≥
  // na·9. Self-pairs excluded; both directions can emit (A⊂B and B⊂A
  // ⟺ near-equal sets). Residual exposure, stated honestly: a corpus
  // of n pairwise-DISTINCT sets over a tiny token universe still yields
  // large set-level candidate counts — inherent to every published
  // exact set-join (AllPairs/PPJoin/ADAPT are worst-case quadratic);
  // the bucketed sketches (dd3/dd6/dd9) are the approximate escape
  // hatch at that extreme. The adversarial collapse case (ScaleProbe
  // `skew:dd15` arm, last at commit 561c6b9; 20k docs drawn from 200
  // shingle sets × 100 copies, every token df ≈ n/8) runs at par with
  // its all-unique twin: 9.2 vs 10.7 s, and 6.26 vs 3.97 s after the
  // round-9 fingerprint-first verify.
  private def dd15Containment(s: SparkSession, d: String): DataFrame = {
    // ONE shingle scan collapsed straight to the per-doc sorted distinct
    // hash set (dd2's r19 shape): per-shingle rows re-derive by map-only
    // explode, and — since each signature's representative is a single
    // doc — the candidate verify arrays are the rep's `hs` column READ
    // OFF this frame, deleting the old plan's separate distinct shuffle,
    // sig-grouped collect_set shuffle, and two of the four checkpoints.
    val hsDoc = shingleRows(s, d)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("h"))).as("hs"))
      .withColumn("n", size(col("hs")).cast("long"))
      .localCheckpoint()
    // set fingerprint per doc: an order-insensitive exact-int triple
    // (count + two independent xors, the second over re-hashed tokens so
    // the pair doesn't cancel together) — docs with equal sets collide
    // on sig by construction; distinct sets collide only via 64-bit hash
    // accident (dd2's documented caveat class). Folded over the distinct
    // set arrays (map-only over the checkpoint; the fold must run on the
    // DISTINCT set — over occurrences duplicates would cancel pairwise).
    val sigs = hsDoc.select(col("doc_id"), col("n"),
        expr("aggregate(hs, 0L, (acc, x) -> acc ^ x)").as("hxor"),
        expr("aggregate(hs, 0L, (acc, x) -> acc ^ xxhash64(x))").as("hxor2"))
      .withColumn("sig", xxhash64(col("hxor"), col("hxor2"), col("n")))
    // representative = min doc_id per sig, as a map-side-combined
    // min-of-struct aggregate (≤1 row per sig leaves each map task)
    // instead of a window row_number (exchange + per-group sort over
    // every row); the struct carries the rep's n along
    // NOT pinned (r20 A/B): repIds re-derives per reference (repSh feeds
    // freq AND the ranked index, plus the verify prune below), but its
    // inputs read the hsDoc checkpoint and the duplicate subtrees run
    // inside already-parallel jobs — an explicit localCheckpoint added a
    // sequential barrier and measured at/above the unpinned shape.
    val repIds = sigs.groupBy("sig")
      .agg(min(struct(col("doc_id"), col("n"))).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("sig"), col("m.n").as("n"))
    // token index over REPRESENTATIVES only, in global canonical order
    // (n rides in from the fingerprint — no per-doc count window)
    val repSh = hsDoc.select(col("doc_id"), explode(col("hs")).as("h"))
      .join(repIds, "doc_id")
    val freq = repSh.groupBy("h").agg(count(lit(1)).as("df"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "h")
    // pinned: BOTH the probe prefix and the candidate index derive from
    // ranked — without the checkpoint each side would recompute the
    // whole join+window subtree
    val ranked = repSh.join(freq, "h")
      .withColumn("pos", row_number().over(wOrd))
      .localCheckpoint()
    // prefix length na − ⌈0.9·na⌉ + 1, with ⌈0.9·na⌉ = (9n+9) div 10
    val prefix = ranked
      .filter(col("pos") <= col("n") - expr("(9*n+9) div 10") + 1)
      .select(col("sig").as("siga"), col("h"),
        col("pos").as("pa"), col("n").as("na"))
    val idx = ranked.select(col("sig").as("sigb"), col("h"),
      col("pos").as("pb"), col("n").as("nb"))
    val cand = prefix.join(idx, Seq("h"))
      .filter(col("siga") =!= col("sigb"))
      // positional upper bound: this match can reach ⌈0.9·na⌉ overlap
      .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb"))
        >= expr("(9*na+9) div 10"))
      .select("siga", "sigb").distinct()
      .localCheckpoint() // referenced by the prune AND the verify join
    // exact verify arrays only for reps that appear in a candidate pair
    // (dd11's semi-join prune: verify cost is O(candidates), not
    // O(corpus)). NO broadcast hint: on dup-heavy corpora the candidate
    // sig set is output-scale — AQE picks broadcast only when it fits.
    val candSigs = cand.select(col("siga").as("sig"))
      .union(cand.select(col("sigb").as("sig"))).distinct()
    // each candidate sig's verify array IS its single representative
    // doc's sorted set — read off hsDoc, no re-aggregation shuffle;
    // pinned because prefix meta + both verify sides consume it (the pin
    // is candidate-sized — it does NOT stop the repIds groupBy above
    // re-deriving per reference; that was A/B'd and left unpinned)
    val hs = hsDoc
      .join(repIds.join(candSigs, Seq("sig"), "left_semi")
        .select(col("doc_id"), col("sig")), "doc_id")
      .select(col("sig"), col("hs"), col("n"))
      .localCheckpoint()
    // FINGERPRINT-FIRST VERIFY (the r8 verdict's dd15 shuffle fix): the
    // old plan joined BOTH full sorted arrays (~400 longs each) into
    // every candidate pair — ~92% of which the verify then rejects — so
    // the pair shuffle carried ~20 GB at the 10× probe and dominated the
    // query. Instead the pair join first carries only a P=64-element
    // PREFIX of each sorted array, and a LOSSLESS bound rejects most
    // candidates before the full arrays are ever shuffled:
    //
    //   For sorted distinct-hash arrays, every element ≤ its prefix max
    //   is IN the prefix, so with m = min(max(pfa), max(pfb)) the plain
    //   prefix intersect |pfa∩pfb| counts the overlap below m EXACTLY
    //   (a shared x ≤ m is in both prefixes; a prefix-intersect member
    //   is ≤ m by construction). Overlap above m is at most the
    //   elements the m-side still has beyond its prefix: na−min(P,na)
    //   if max(pfa) ≤ max(pfb), else nb−min(P,nb). So
    //     common ≤ |pfa∩pfb| + rest
    //   and pairs with 10·(|pfa∩pfb|+rest) < 9·na cannot reach the 0.9
    //   gate — dropped carrying 64+64 longs instead of ~400+~400. A
    //   truly-contained pair always passes (bound ≥ true common).
    //   Survivors (the few percent near the gate) re-join `hs` for the
    //   exact early-exit intersect, unchanged — output bit-identical.
    val P = 64
    val meta = hs.select(col("sig"), slice(col("hs"), 1, P).as("pf"),
      col("n"))
      .withColumn("pmx", element_at(col("pf"), -1))
    val pre = cand
      .join(meta.select(col("sig").as("siga"), col("pf").as("pfa"),
        col("n").as("na"), col("pmx").as("mxa")), "siga")
      .join(meta.select(col("sig").as("sigb"), col("pf").as("pfb"),
        col("n").as("nb"), col("pmx").as("mxb")), "sigb")
      // prefixes are sorted slices of sorted distinct arrays — the
      // codegen'd merge-intersect applies (no interpreted array_intersect)
      .withColumn("pc", graft.functions.VectorFunctions
        .intersectCountSorted(col("pfa"), col("pfb")))
      .withColumn("rest", when(col("mxa") <= col("mxb"),
        col("na") - least(lit(P.toLong), col("na")))
        .otherwise(greatest(col("nb") - least(lit(P.toLong), col("nb")), lit(0L))))
      .filter((col("pc") + col("rest")) * 10 >= col("na") * 9)
      .select("siga", "sigb")
    // thresholded verify on survivors only: the early-exit intersect
    // abandons sub-gate pairs after the disjoint prefix (common·10 ≥
    // na·9 ⟺ common ≥ ⌈0.9·na⌉, so −1 ⟺ fail — exact counts for every
    // passing pair)
    val interSig = pre
      .join(hs.select(col("sig").as("siga"), col("hs").as("ha"),
        col("n").as("na")), "siga")
      .join(hs.select(col("sig").as("sigb"), col("hs").as("hb")), "sigb")
      .withColumn("common", graft.functions.VectorFunctions
        .intersectCountAtLeastFrac(col("ha"), col("hb"), 9, 10))
      .filter(col("common") >= 0L)
      .select(col("siga"), col("sigb"), col("common"), col("na"))
    // expand set-level verdicts to member doc pairs (pure output work)
    val mem = sigs.select(col("sig"), col("doc_id"), col("n"))
    val inter = interSig
      .join(mem.select(col("sig").as("siga"), col("doc_id").as("ida")), "siga")
      .join(mem.select(col("sig").as("sigb"), col("doc_id").as("idb")), "sigb")
      .select(col("ida"), col("idb"), col("common"), col("na").as("n_a"))
    val intra = mem.select(col("sig"), col("doc_id").as("ida"), col("n"))
      .join(mem.select(col("sig"), col("doc_id").as("idb")), Seq("sig"))
      .filter(col("ida") =!= col("idb"))
      .select(col("ida"), col("idb"), col("n").as("common"), col("n").as("n_a"))
    inter.unionByName(intra).orderBy("ida", "idb")
  }

  private val dd15Sql: String =
    s"""WITH $shinglesSqlCte,
       |n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |cm AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT ida, idb, common, na.n AS n_a
       |FROM cm JOIN n na ON na.doc_id = ida
       |WHERE common * 10 >= na.n * 9
       |ORDER BY ida, idb""".stripMargin

  // ---------------------------------------------------------------------
  // dd16_semantic_dedup — SemDeDup-style semantic deduplication (Abbas
  // et al. 2023): k-means-cluster the embedding corpus, then look for
  // near-duplicates ONLY within clusters — the clustering replaces LSH
  // as the candidate generator, turning the O(n²) cosine comparison
  // into Σ|cluster|². Reuses sim10's exact-integer Lloyd trainer
  // ([[Similarity.kmeansFit]]) so the trained partition is
  // bit-reproducible, then applies SemDeDup's one-hop keep rule: a
  // vector is a duplicate iff some LOWER-id vector in the same cluster
  // has cosine ≥ 0.45 (dd5's threshold — so dd16's dup set is exactly
  // the dd5 pair set restricted to co-clustered endpoints, a containment
  // Dd16Spec asserts); its keeper is the lowest such id (one hop, not
  // connected components — dd7 is the transitive variant).
  //
  // Scale: training is sim10's loop (broadcast-argmin map-side, one
  // (cid,dim) shuffle per round); assignment is one more broadcast-
  // argmin pass; the pair join shuffles on cid only, so the quadratic
  // verify is bounded by the largest cluster, the same bucket-bounding
  // story as dd9 (a production variant caps or re-splits outsize
  // clusters; k grows ~√N at scale, shrinking per-cluster mass).
  // Cosine uses dd5's deterministic form: exact-int dot and norms, two
  // sqrts + one multiply + one divide in IEEE doubles.
  private def dd16SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotLong _
    val e = Similarity.scaledVectors(s, d)
      .select(col("vec_id"), col("v"), col("nrm")).localCheckpoint()
    // r19: row-local argmin over the broadcast-attached centroid array
    // (same (dist, cid) tie-break as the old crossJoin + window plan —
    // zero Exchange, guide §2.4)
    val assigned = e.crossJoin(broadcast(Similarity.kmeansFit(s, d)
        .select(col("cid"), col("vc"))
        .withColumn("nc", graft.functions.VectorFunctions.normSqLong(col("vc")))
        .agg(collect_list(struct(col("cid"), col("vc"), col("nc"))).as("cents"))))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.nearestCentroidId(
          col("v"), lit(0L), col("cents"), useL2 = true).as("cid"),
        col("v"), col("nrm"))
      .localCheckpoint() // reused by both pair sides + the final join
    // ANCHOR-FIRST verify (round 10, lossless — dd15's fingerprint-first
    // discipline applied to the SemDeDup keep rule): the keeper of v is
    // the MINIMUM lower id in v's cluster with cos ≥ 0.45, and the
    // cluster's lowest-id member (its "anchor") is the minimum possible
    // keeper — so any v that matches its anchor is resolved by ONE
    // broadcast comparison, no pair enumeration. Only anchor-miss rows
    // enter the C(n,2) pair join as the right side (the left side keeps
    // every member — a resolved dup can still be someone else's keeper).
    // Degenerate one-cluster blob (every pair ≥ 0.45, k-means defeated):
    // everything matches the anchor, the pair join's right side is
    // ~empty, and the quadratic vanishes — ScaleProbe `skew:dd16` arm
    // (last at commit 561c6b9; 10k vectors): blob 13.29 s → 3.36 s,
    // uniform 4.01 → 4.48 s. Balanced corpora pay one ≤k-row broadcast
    // join, noise.
    val anchors = assigned
      .withColumn("arn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("cid").orderBy("vec_id")))
      .filter(col("arn") === 1)
      .select(col("cid"), col("vec_id").as("aid"),
        col("v").as("va0"), col("nrm").as("na0"))
    val withAnchor = assigned.join(broadcast(anchors), "cid")
      .withColumn("fast_dup", col("vec_id") > col("aid") &&
        dot(col("v"), col("va0")).cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("na0").cast("double")))
          >= 0.45)
    val fastDups = withAnchor.filter(col("fast_dup"))
      .select(col("vec_id"), col("aid").as("k"))
    val a = assigned.select(col("cid"), col("vec_id").as("ida"),
      col("v").as("va"), col("nrm").as("na"))
    val b = withAnchor.filter(!col("fast_dup"))
      .select(col("cid"), col("vec_id").as("idb"),
        col("v").as("vb"), col("nrm").as("nb"))
    val slowDups = a.join(b, "cid").filter(col("ida") < col("idb"))
      .withColumn("cos", dot(col("va"), col("vb")).cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cos") >= 0.45)
      .groupBy(col("idb").as("vec_id"))
      .agg(min(col("ida")).as("k"))
    val dups = fastDups.unionByName(slowDups)
    assigned.select(col("vec_id"), col("cid"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        col("k").isNotNull.as("is_dup"),
        coalesce(col("k"), col("vec_id")).as("keeper"))
      .orderBy("vec_id")
  }

  private val dd16Sql =
    s"""WITH ${Similarity.kmeansSqlCtes}
       |az AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
       |  CAST((SELECT SUM(c.vc[i] * c.vc[i] - 2 * e.v[i] * c.vc[i])
       |        FROM UNNEST(generate_series(1, 64)) t(i)) AS BIGINT) AS dist
       |  FROM e, ${Similarity.kmeansFinalCte} c),
       |sz AS (SELECT vec_id, v, nrm, cid FROM (SELECT *, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM az)
       |  WHERE rn = 1),
       |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb, a.nrm AS na, b.nrm AS nb,
       |  CAST((SELECT SUM(a.v[i] * b.v[i]) FROM UNNEST(generate_series(1, 64)) t(i)) AS BIGINT) AS dot
       |  FROM sz a JOIN sz b ON a.cid = b.cid AND a.vec_id < b.vec_id),
       |dups AS (SELECT idb AS vec_id, MIN(ida) AS k FROM p
       |  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.45
       |  GROUP BY idb)
       |SELECT s.vec_id, s.cid,
       |  (d.k IS NOT NULL) AS is_dup,
       |  COALESCE(d.k, s.vec_id) AS keeper
       |FROM sz s LEFT JOIN dups d ON s.vec_id = d.vec_id
       |ORDER BY s.vec_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("dd16_semantic_dedup", dd16SemanticDedup, Some(dd16Sql)),
    Q("dd1_exact", dd1Exact, Some(dd1Sql)),
    Q("dd13_substring_dedup", dd13SubstringDedup, Some(dd13Sql)),
    Q("dd14_residual_corpus", dd14ResidualCorpus, Some(dd14Sql)),
    Q("dd15_containment", dd15Containment, Some(dd15Sql)),
    Q("dd11_incremental_dedup", dd11IncrementalDedup, Some(dd11Sql)),
    Q("dd12_keep_best", dd12KeepBest, Some(dd12Sql)),
    Q("dd2_ngram_jaccard", dd2NgramJaccard, Some(dd2Sql)),
    Q("dd3_minhash_lsh", dd3MinhashLsh, Some(dd3Sql)),
    Q("dd4_simhash", dd4Simhash, Some(dd4Sql)),
    Q("dd5_embed_neardup", dd5EmbedNeardup, Some(dd5Sql)),
    Q("dd6_lsh_jaccard", dd6LshJaccard, Some(dd6Sql)),
    Q("dd7_dedup_clusters", dd7DedupClusters, Some(dd7Sql)),
    Q("dd8_simhash_pairs", dd8SimhashPairs, Some(dd8Sql)),
    Q("dd9_embed_lsh", dd9EmbedLsh, Some(dd9Sql)))
}
