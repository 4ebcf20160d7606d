package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Training-data preparation operators beyond filtering/dedup: test-set
  * decontamination, sequence packing, paragraph-level dedup, and PII
  * redaction — the curation steps a 100 TB pretraining pipeline runs
  * after the dedup/quality passes (Dedup.*, TextOps.*).
  *
  * Determinism: all outputs are exact longs / strings / booleans (see
  * graft.Q); content identities are md5 / word n-grams so the DuckDB
  * oracle recomputes them bit-identically. Candidate-generation shuffle
  * keys may be xxhash64 longs (dc1 — same stance as Dedup.dd2/dd3), but
  * anything that decides what survives (dd10's first-occurrence) is
  * keyed on the exact content.
  */
object TrainPrep {

  // ---------------------------------------------------------------------
  // dc1_decontaminate — benchmark/test-set decontamination: drop (flag)
  // training documents whose word-3-gram fingerprints overlap the test
  // set's fingerprint universe (the GPT-3/Pile n-gram-overlap rule;
  // reference semantics: F1's IN-list filter generalized to fuzzy
  // membership). Test set = doc_id % 10 = 0 (a held-out split of the
  // corpus); a train doc is contaminated when ≥ 20% of its distinct
  // shingles appear anywhere in the test set (exact integer test
  // n_shared·5 ≥ n_shingles).
  //
  // Scale: a real benchmark fingerprint set is MBs against a TB corpus,
  // but THIS test split is doc_id%10 of the corpus itself — it grows
  // linearly with the input, so the join strategy is deliberately left
  // to AQE: it broadcasts while the deduped fingerprint side fits under
  // autoBroadcastJoinThreshold and falls back to a shuffled hash join on
  // the same hashed-long keys when it doesn't (a forced broadcast()
  // would instead hard-fail at the 8 GB broadcast limit at scale).
  private def dc1Decontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingleRows(s, d)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val test = sh.filter(col("doc_id") % 10 === 0).select("h").distinct()
    val train = sh.filter(col("doc_id") % 10 =!= 0).distinct()
    // one pass (dc2's rationale): a LEFT join against the DISTINCT test
    // set preserves train's row count, so the total and the shared count
    // come out of one aggregate — no double derivation of the shingle
    // chain, no recombining join
    train.join(test.select(col("h"), lit(1L).as("t")), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("t")).as("n_shared"))
      .select(
        col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared") * 5L >= col("n_shingles")).as("contaminated"))
      .orderBy("doc_id")
  }

  private val dc1Sql =
    s"""WITH ${Dedup.shinglesSqlCte},
       |test AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
       |train AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 0),
       |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY 1),
       |shr AS (SELECT doc_id, COUNT(*) AS n_shared
       |        FROM train JOIN test USING (s) GROUP BY 1)
       |SELECT tot.doc_id, n_shingles,
       |  CAST(COALESCE(shr.n_shared, 0) AS BIGINT) AS n_shared,
       |  COALESCE(shr.n_shared, 0) * 5 >= n_shingles AS contaminated
       |FROM tot LEFT JOIN shr ON shr.doc_id = tot.doc_id
       |ORDER BY tot.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dc2_chunk_decontaminate — dc1 at the RAG CHUNK grain: the serving
  // stack indexes pk6's overlapping chunks (pipe6), and a doc that
  // survives doc-level decontamination can still carry ONE contaminated
  // chunk (a quoted benchmark item inside an otherwise-clean document)
  // that retrieval then hands to the model verbatim. So the check runs
  // at the unit the index actually serves: a train chunk (doc_id%10≠0)
  // is contaminated when ≥20% of its distinct word-3-gram shingles
  // appear in the held-out split's fingerprint set (dc1's exact integer
  // rule, n_shared·5 ≥ n_shingles). Chunks under 3 tokens have no
  // shingles and no row — nothing to fingerprint, same stance as
  // shingleRowsOf's ≥3 filter.
  //
  // Chunk shingles are 3-grams over the chunk's REASSEMBLED token
  // sequence (pk6TokenChunks order) — boundary-straddling doc 3-grams
  // belong to whichever chunk holds all three tokens, which the B−S=16
  // token overlap keeps intact in at least one chunk for any straddle
  // ≤ 16 — the overlap earning its storage twice (retrieval context +
  // decontamination coverage).
  //
  // Scale: dc1's economics at the chunk grain — the fingerprint join is
  // AQE-decided (broadcast while the eval set fits, shuffled-hash past
  // it), shuffles are the (doc, chunk) regroup (groups ≤ B tokens) and
  // two map-side-combined counts. Decision hash is xxhash64 (dc1's
  // disclosed stance); the oracle joins exact strings. 10× probe:
  // 1.21 → 14.17 s — linear in corpus positions, as the token-grain
  // regroup implies.
  private def dc2ChunkDecontaminate(s: SparkSession, d: String): DataFrame = {
    val chunks = pk6TokenChunks(s, d)
      .filter(col("doc_id") % 10 =!= 0)
      .groupBy(col("doc_id"), col("k").as("chunk_id"))
      .agg(transform(array_sort(collect_list(struct(col("p"), col("tok")))),
        x => x.getField("tok")).as("a"))
      .filter(size(col("a")) >= 3)
    val trainSh = chunks
      .select(col("doc_id"), col("chunk_id"), col("a"),
        explode(sequence(lit(0), size(col("a")) - 3)).as("i"))
      .select(col("doc_id"), col("chunk_id"), xxhash64(concat_ws(" ",
        element_at(col("a"), col("i") + 1),
        element_at(col("a"), col("i") + 2),
        element_at(col("a"), col("i") + 3))).as("h"))
      .distinct()
    // test-side fingerprints over the SAME token domain as the chunks:
    // pk6TokenChunks drops empty tokens, so the held-out shingles must
    // too — an asymmetric domain would miss a verbatim quote whose
    // source text carries consecutive spaces (shingleRows keeps empties)
    val testToks = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
      .select(filter(split(col("text"), " "), x => length(x) > 0).as("a"))
      .filter(size(col("a")) >= 3)
    val test = testToks
      .select(col("a"), explode(sequence(lit(0), size(col("a")) - 3)).as("i"))
      .select(xxhash64(concat_ws(" ",
        element_at(col("a"), col("i") + 1),
        element_at(col("a"), col("i") + 2),
        element_at(col("a"), col("i") + 3))).as("h"))
      .distinct()
    // one pass: a LEFT join against the DISTINCT test-hash set preserves
    // trainSh's row count, so total and shared counts fall out of a
    // single per-chunk aggregate — the previous tot/shared split scanned
    // and re-derived the whole chunk+shingle chain twice (Catalyst does
    // not dedup common subplans) and paid a third join to recombine
    trainSh.join(test.select(col("h"), lit(1L).as("t")), Seq("h"), "left")
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("t")).as("n_shared"))
      .select(
        col("doc_id"), col("chunk_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared") * 5L >= col("n_shingles")).as("contaminated"))
      .orderBy("doc_id", "chunk_id")
  }

  // lazy: pk6ChunkCtes is defined later in the object — a strict val
  // here reads it as null during object init
  private lazy val dc2Sql =
    s"""WITH $pk6ChunkCtes,
       |ca AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |    list(tok ORDER BY p) AS a
       |  FROM m WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
       |tsh AS (SELECT DISTINCT doc_id, chunk_id,
       |    a[i] || ' ' || a[i + 1] || ' ' || a[i + 2] AS sh3
       |  FROM ca, UNNEST(generate_series(1, greatest(len(a) - 2, 0))) u(i)),
       |tt AS (SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
       |  FROM documents WHERE doc_id % 10 = 0),
       |test AS (SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
       |  FROM tt, UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) u(i)),
       |tot AS (SELECT doc_id, chunk_id, COUNT(*) AS n_shingles
       |  FROM tsh GROUP BY 1, 2),
       |shr AS (SELECT doc_id, chunk_id, COUNT(*) AS n_shared
       |  FROM tsh JOIN test ON test.s = tsh.sh3 GROUP BY 1, 2)
       |SELECT tot.doc_id, tot.chunk_id, n_shingles,
       |  CAST(COALESCE(shr.n_shared, 0) AS BIGINT) AS n_shared,
       |  COALESCE(shr.n_shared, 0) * 5 >= n_shingles AS contaminated
       |FROM tot LEFT JOIN shr ON shr.doc_id = tot.doc_id
       |  AND shr.chunk_id = tot.chunk_id
       |ORDER BY tot.doc_id, tot.chunk_id""".stripMargin

  // ---------------------------------------------------------------------
  // pk1_pack_sequences — sequence packing: concatenate the corpus in
  // doc_id order and split into fixed context windows of `packBudget`
  // tokens (the concat-and-chunk layout LLM pretraining uses). Each doc
  // gets its global token offset and the chunk range it spans.
  //
  // Scale: a global running sum is NOT one window over one partition
  // (the naive `Window.orderBy(doc_id)` plan serializes the corpus
  // through a single task). This is the classic two-phase distributed
  // prefix sum. Partition assignment is DETERMINISTIC arithmetic on
  // doc_id (contiguous ranges from a 2-long min/max aggregate), not
  // `repartitionByRange` — whose sampled bounds are nondeterministic and
  // previously forced a corpus-sized localCheckpoint (a reliability
  // cliff at scale: lineage truncated, any executor loss fails the job).
  // The per-partition totals (≤P rows, O(#partitions) not O(rows)) are
  // prefix-summed on the DRIVER — the same small-scalar exception as the
  // HWM read — and broadcast-joined back, so no single-partition window
  // job appears anywhere in the plan.
  // private[graft]: the streaming chunk twins (Streams) and Pipe5Spec
  // must stay equal to the batch chunk budget
  private[graft] val packBudget = 512L

  /** (doc_id, n_tokens, start_off) for every document — the packing
    * layout shared by pk1 (spans) and pk2 (chunk materialization).
    */
  private[operators] def packedOffsets(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val mm = t.agg(min("doc_id"), max("doc_id")).head()
    if (mm.isNullAt(0)) return t.withColumn("start_off", lit(0L))
    val (minId, maxId) = (mm.getLong(0), mm.getLong(1))
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt.max(1)
    val span = (maxId - minId) / p + 1
    val withPid = t.withColumn("pid",
      expr(s"CAST((doc_id - ${minId}L) div ${span}L AS INT)"))
    val local = withPid.withColumn("local_off",
      coalesce(
        sum(col("n_tokens")).over(Window.partitionBy("pid").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val ptots = withPid.groupBy("pid").agg(sum(col("n_tokens")).as("ptot"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cum = (0 until p).scanLeft(0L)((acc, q) => acc + ptots.getOrElse(q, 0L))
    val offs = s.createDataFrame(
      (0 until p).map(q => (q, cum(q)))).toDF("pid", "pid_off")
    local.join(broadcast(offs), Seq("pid"))
      .select(col("doc_id"), col("n_tokens"),
        (col("pid_off") + col("local_off")).as("start_off"))
  }

  private def pk1PackSequences(s: SparkSession, d: String): DataFrame =
    packedOffsets(s, d)
      .withColumn("chunk_first", expr(s"start_off div $packBudget"))
      .withColumn("chunk_last",
        expr(s"(start_off + greatest(n_tokens, 1L) - 1L) div $packBudget"))
      .select(
        col("doc_id"), col("n_tokens"), col("start_off"),
        col("chunk_first"), col("chunk_last"),
        (col("chunk_last") - col("chunk_first") + 1L).as("n_chunks"))
      .orderBy("doc_id")

  private val pk1Sql =
    s"""WITH t AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM t)
       |SELECT doc_id, n_tokens, start_off,
       |  start_off // $packBudget AS chunk_first,
       |  (start_off + greatest(n_tokens, 1) - 1) // $packBudget AS chunk_last,
       |  (start_off + greatest(n_tokens, 1) - 1) // $packBudget
       |    - start_off // $packBudget + 1 AS n_chunks
       |FROM o ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // pk2_pack_emit — materialize the packed sequences themselves: the
  // (chunk_id → assembled token stream) rows a trainer actually reads,
  // not just pk1's layout. Each token gets its global position
  // (start_off + index), chunk_id = position div budget; chunks
  // reassemble in position order with a per-chunk digest.
  //
  // Scale: token text shuffles exactly once — the unavoidable regroup by
  // chunk_id (a chunk's tokens come from adjacent docs, so the shuffle
  // is near-range and each group is ≤ packBudget tokens, bounded
  // memory). The offsets side joins on doc_id as a narrow
  // (long, long, long) frame; everything upstream of the explode is the
  // pk1 prefix-sum plan.
  private def pk2PackEmit(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    toks.join(packedOffsets(s, d), Seq("doc_id"))
      .select(col("doc_id"), col("start_off"),
        posexplode(col("toks")).as(Seq("j", "tok")))
      .select(col("doc_id"), col("tok"),
        (col("start_off") + col("j")).as("pos"))
      .withColumn("chunk_id", expr(s"pos div $packBudget"))
      // n_docs via collect_set, NOT countDistinct: a DISTINCT aggregate
      // mixed with the imperative collect_list triggers Spark's
      // one-distinct two-shuffle plan, and the (pos, tok) structs — the
      // widest data here — would cross the network twice (the same
      // Expand-family pitfall q25 hit). All-imperative aggregates keep
      // the one regroup-by-chunk_id shuffle this plan promises.
      .groupBy("chunk_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        collect_set(col("doc_id")).as("doc_set"),
        md5(array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")),
          " ")).as("chunk_md5"))
      .select(col("chunk_id"), col("n_tokens"),
        size(col("doc_set")).cast("long").as("n_docs"), col("chunk_md5"))
      .orderBy("chunk_id")
  }

  // ---------------------------------------------------------------------
  // pk3_attention_spans — the per-chunk SEQUENCE-BOUNDARY table a trainer
  // needs next to pk2's token streams: packed chunks concatenate
  // documents, so block-diagonal attention (and loss masking) needs,
  // for every chunk, the in-chunk offsets where each document begins.
  // A doc spanning [start_off, end_off) starts inside chunk c at
  // max(start_off, c·B) − c·B for every chunk it overlaps; per chunk the
  // sorted offsets are emitted as a canonical CSV string (identical
  // formatting in both engines — raw arrays stringify differently).
  //
  // Scale: runs entirely on pk1's narrow (doc_id, n_tokens, start_off)
  // frame — the token stream itself NEVER moves. Fan-out is
  // chunks-per-doc (n_tokens/B + 1) and each chunk group holds ≤ B
  // boundary rows, so the groupBy is bounded regardless of corpus size.
  private def pk3AttentionSpans(s: SparkSession, d: String): DataFrame =
    packedOffsets(s, d).filter(col("n_tokens") > 0)
      .select(col("start_off"),
        (col("start_off") + col("n_tokens")).as("end_off"))
      .select(col("start_off"),
        explode(sequence(
          expr(s"start_off div $packBudget"),
          expr(s"(end_off - 1) div $packBudget"))).as("chunk_id"))
      .select(col("chunk_id"),
        (greatest(col("start_off"), col("chunk_id") * packBudget) -
          col("chunk_id") * packBudget).as("rel"))
      .groupBy("chunk_id")
      .agg(count(lit(1)).as("n_seqs"),
        array_join(sort_array(collect_list(col("rel"))), ",").as("seq_starts_csv"))
      .orderBy("chunk_id")

  private val pk3Sql =
    s"""WITH t AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM t),
       |ch AS (SELECT start_off, start_off + n_tokens AS end_off
       |  FROM o WHERE n_tokens > 0),
       |x AS (SELECT CAST(u.c AS BIGINT) AS chunk_id,
       |    GREATEST(start_off, u.c * $packBudget) - u.c * $packBudget AS rel
       |  FROM ch, UNNEST(generate_series(CAST(start_off // $packBudget AS INT),
       |    CAST((end_off - 1) // $packBudget AS INT))) u(c))
       |SELECT chunk_id, COUNT(*) AS n_seqs,
       |  string_agg(CAST(rel AS VARCHAR), ',' ORDER BY rel) AS seq_starts_csv
       |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  private val pk2Sql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (SELECT doc_id, toks, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM t),
       |e AS (SELECT doc_id, start_off + u.i - 1 AS pos, toks[u.i] AS tok
       |  FROM o, UNNEST(generate_series(1, CAST(n_tokens AS INT))) u(i))
       |SELECT pos // $packBudget AS chunk_id,
       |  COUNT(*) AS n_tokens,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // dd10_paragraph_dedup — sub-document dedup (the CCNet/RefinedWeb
  // paragraph-level pass): split each doc into 16-word "paragraphs"
  // (the corpus is single-line text; at 100 TB this is split('\n')),
  // keep the globally FIRST occurrence of each paragraph (ordered by
  // (doc_id, position)), and emit per-doc dup stats plus the md5 of the
  // cleaned (kept-paragraphs-only) text.
  //
  // Scale: first-occurrence is a map-side-combined MIN aggregate keyed
  // by the paragraph string itself, then a join-back to flag keepers.
  // Two properties a row_number window over hashed keys couldn't give:
  //   - skew-bounded: a million-copy boilerplate paragraph pre-collapses
  //     to ONE row per map task before the shuffle (partial aggregation
  //     is the built-in salting — same effect as Skew.saltedSum's
  //     two-phase plan, without the salt bookkeeping). The join-back's
  //     hot key is N×1 — linear in one task, never a cross product.
  //     Measured (ScaleProbe `skew:dd10` arm, last at commit 561c6b9;
  //     local[32], warm, 100k docs): uniform 2.81 s vs every doc opening
  //     with one shared boilerplate paragraph 2.11 s — the hot corpus is
  //     FASTER (fewer distinct paragraphs survive the partial agg).
  //   - exact: keyed on the string, so a 64-bit xxhash64 collision can
  //     no longer silently drop a unique paragraph (dd2/dd6 stance:
  //     candidates may hash, verdicts must be exact).
  // Shuffle payload is the paragraph text (bounded: paraWords words).
  private val paraWords = 16

  private def dd10ParagraphDedup(s: SparkSession, d: String): DataFrame = {
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0L, (size(toks) - 1) div $paraWords)")).as("ci"))
      .select(col("doc_id"), col("ci"),
        array_join(slice(col("toks"), col("ci") * paraWords + 1, lit(paraWords)), " ")
          .as("chunk"))
    val firsts = chunks.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("ci"))).as("f"))
      .select(col("chunk"), col("f.doc_id").as("f_doc"), col("f.ci").as("f_ci"))
    val kept = chunks.join(firsts, Seq("chunk"))
      .withColumn("kept",
        col("doc_id") === col("f_doc") && col("ci") === col("f_ci"))
    val stats = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_paras"),
      sum(when(col("kept"), 0L).otherwise(1L)).as("n_dup_paras"))
    val clean = kept.filter(col("kept"))
      .groupBy("doc_id")
      .agg(md5(array_join(
        transform(sort_array(collect_list(struct(col("ci"), col("chunk")))),
          x => x.getField("chunk")),
        " ")).as("clean0"))
    stats.join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"), col("n_dup_paras"),
        coalesce(col("clean0"), md5(lit(""))).as("clean_hash"))
      .orderBy("doc_id")
  }

  private val dd10Sql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |c AS (SELECT doc_id, u.i - 1 AS ci,
       |    array_to_string(toks[(u.i-1)*$paraWords + 1 :
       |      least((u.i-1)*$paraWords + $paraWords, len(toks))], ' ') AS chunk
       |  FROM t, UNNEST(generate_series(1, (len(toks)-1)//$paraWords + 1)) u(i)),
       |k AS (SELECT doc_id, ci, chunk,
       |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) = 1 AS kept
       |  FROM c),
       |st AS (SELECT doc_id, COUNT(*) AS n_paras,
       |    CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_paras
       |  FROM k GROUP BY 1),
       |cl AS (SELECT doc_id, md5(string_agg(chunk, ' ' ORDER BY ci)) AS clean0
       |  FROM k WHERE kept GROUP BY 1)
       |SELECT st.doc_id, n_paras, n_dup_paras,
       |  COALESCE(clean0, md5('')) AS clean_hash
       |FROM st LEFT JOIN cl ON cl.doc_id = st.doc_id
       |ORDER BY st.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t7_pii_redact — PII scrubbing: count and redact email addresses and
  // dotted-quad IPs with plain regexes. The corpus text carries no PII,
  // so each row gets a deterministic synthetic tail (two emails + two
  // IPs derived from doc_id) appended first — the redaction then has
  // real work whose output both engines recompute exactly. Regexes stay
  // in the Java∩RE2 common dialect (classes, bounded quantifiers, \b).
  //
  // Scale: map-only, whole-stage-codegen'd; the only shuffle is the
  // presentation ORDER BY.
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  private def t7PiiRedact(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id").cast("string")
    val injected = concat(
      substring(col("text"), 1, 64),
      lit(" contact user"), did, lit("@example.com or admin"), did,
      lit("@mail.example.org from 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), (col("doc_id") % 200).cast("string"),
      lit(" and 192.168.1."), (col("doc_id") % 100).cast("string"), lit(" end"))
    Tables.documents(s, d)
      .select(col("doc_id"), injected.as("txt"))
      .select(
        col("doc_id"),
        regexp_count(col("txt"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("txt"), lit(ipRe)).cast("long").as("n_ips"),
        md5(regexp_replace(regexp_replace(col("txt"), emailRe, "<EMAIL>"),
          ipRe, "<IP>")).as("redacted_hash"))
      .orderBy("doc_id")
  }

  private val t7Sql = {
    val injected = "substring(text, 1, 64) || ' contact user' || did ||" +
      " '@example.com or admin' || did || '@mail.example.org from 10.' ||" +
      " CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 200 AS VARCHAR) ||" +
      " ' and 192.168.1.' || CAST(doc_id % 100 AS VARCHAR) || ' end'"
    s"""WITH t AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS did, text FROM documents),
       |i AS (SELECT doc_id, $injected AS txt FROM t)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(txt, '$emailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(txt, '$ipRe')) AS BIGINT) AS n_ips,
       |  md5(regexp_replace(regexp_replace(txt, '$emailRe', '<EMAIL>', 'g'),
       |      '$ipRe', '<IP>', 'g')) AS redacted_hash
       |FROM i ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // mix1_domain_mix — domain-mixture sampling (the Pile/DoReMi-style
  // source re-weighting step): each source carries a mixture weight from
  // a CONFIG TABLE (a tiny (source, w) frame joined broadcast — the
  // production shape; the gate query derives its config from the
  // synthetic source names, srcN → 1 + N mod 4, so the oracle can
  // reproduce it), a global token budget of half the corpus, and each
  // source deterministically sampled at the rate that hits its weighted
  // share: keep doc ⇔ h(doc) · tokens_src < target_src · 10⁶, with
  // h = md5-derived ∈ [0, 10⁶) (engine-portable, same stance as dd3)
  // and target_src = (total div 2) · w div Σw — all exact integer
  // arithmetic, so the DuckDB oracle reproduces the keep set bit-for-bit.
  //
  // Scale: one map-side-combined per-source token aggregate (≤ #sources
  // rows, broadcast back), then a map-only keep decision — no shuffle of
  // documents at all. The integer cross-multiplication stays inside
  // int64 up to ~10¹¹ tokens per source; past that, rescale h to 10³
  // precision (the comparison is homogeneous in the hash modulus).

  /** Generalized mixer: `weights` is a small (source, w: long) config
    * frame, joined broadcast. The config is authoritative — sources
    * absent from it are excluded from the budget AND the output (weight
    * them 0 explicitly to keep their rows with keep=false everywhere).
    */
  private[graft] def domainMix(docs: DataFrame, weights: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val st = t.groupBy("source").agg(sum("n_tokens").as("s_tokens"))
      .join(broadcast(weights.select(col("source"), col("w").cast("long").as("w"))),
        "source")
    val tot = st.agg(sum("s_tokens").as("total"), sum("w").as("sw"))
    val tgt = st.crossJoin(tot)
      .select(col("source"), col("s_tokens"),
        expr("(total div 2) * w div sw").as("target_s"))
    t.withColumn("hh",
        graft.functions.VectorFunctions.md5Prefix60(col("doc_id").cast("string")) % 1000000L)
      .join(broadcast(tgt), "source")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("hh") * col("s_tokens") < col("target_s") * 1000000L).as("keep"))
      .orderBy("doc_id")
  }

  private def mix1DomainMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // the gate's config table: one row per source, weight derivable by
    // the oracle from the name (a stand-in for a curated weights file)
    val weights = docs.select("source").distinct()
      .withColumn("w", expr("1L + CAST(substring(source, 4) AS LONG) % 4"))
    domainMix(docs, weights)
  }

  private val mix1Sql =
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |st AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS s_tokens,
      |    1 + CAST(substring(source, 4) AS BIGINT) % 4 AS w FROM t GROUP BY 1),
      |tot AS (SELECT CAST(SUM(s_tokens) AS BIGINT) AS total,
      |    CAST(SUM(w) AS BIGINT) AS sw FROM st),
      |tgt AS (SELECT source, s_tokens, (total // 2) * w // sw AS target_s
      |  FROM st CROSS JOIN tot)
      |SELECT t.doc_id, t.source, t.n_tokens,
      |  (('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000)
      |    * g.s_tokens < g.target_s * 1000000 AS keep
      |FROM t JOIN tgt g USING (source) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // mix2_temperature — temperature-scaled domain sampling (the α=0.5
  // multilingual/multi-domain rebalance of mBERT/XLM-R and data-mixture
  // papers): domain d with n_d docs gets weight n_d^α, flattening the
  // head without letting tiny domains dominate. Exact-integer form:
  // w_d = ⌊√(n_d·10⁶)⌋ — sqrt of an exact integer is a SINGLE
  // correctly-rounded IEEE op, and every figure after it (targets,
  // ranks) is integer math, so Spark and the oracle agree bit-for-bit.
  // Each domain then contributes its target count deterministically: the
  // target_d lowest-md5-hash docs (the same portable-hash rank-sampling
  // mix1 uses for its keep decision).
  //
  // Scale: domain stats are one map-side-combined groupBy over a
  // 2-column projection; the 1-row total crossJoins back (broadcast);
  // per-domain ranking is a window partitioned by source — the ONLY
  // per-domain serial point, bounded per partition by the largest
  // domain, and at 100 TB the rank filter would swap to the q10
  // bounded-top-k aggregate (TopKPairs) if a single domain outgrew a
  // partition.
  private def mix2Temperature(s: SparkSession, d: String): DataFrame = {
    val totalTarget = 250L
    val docs = Tables.documents(s, d)
    val nd = docs.groupBy("source").agg(count(lit(1)).as("n_d"))
      .withColumn("w_d", floor(sqrt(col("n_d") * 1000000.0)).cast("long"))
    val tot = nd.agg(sum("w_d").as("sw"))
    val tgt = nd.crossJoin(tot)
      .select(col("source"), col("n_d"),
        least(col("n_d"), expr(s"$totalTarget * w_d div sw")).as("target_d"))
    val hh = graft.functions.VectorFunctions.md5Prefix60(col("doc_id").cast("string"))
    val w = Window.partitionBy("source").orderBy("hh", "doc_id")
    docs.select(col("doc_id"), col("source"), hh.as("hh"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(tgt), "source")
      .filter(col("rk") <= col("target_d"))
      .select(col("doc_id"), col("source"), col("rk"), col("target_d"))
      .orderBy("source", "rk")
  }

  private val mix2Sql =
    """WITH nd AS (SELECT source, COUNT(*) AS n_d,
      |    CAST(FLOOR(SQRT(COUNT(*) * 1000000.0)) AS BIGINT) AS w_d
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(w_d) AS BIGINT) AS sw FROM nd),
      |tgt AS (SELECT source, n_d,
      |    least(n_d, 250 * w_d // sw) AS target_d FROM nd CROSS JOIN tot),
      |r AS (SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY
      |      ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
      |      doc_id) AS BIGINT) AS rk
      |  FROM documents)
      |SELECT r.doc_id, r.source, r.rk, CAST(g.target_d AS BIGINT) AS target_d
      |FROM r JOIN tgt g USING (source)
      |WHERE r.rk <= g.target_d ORDER BY source, rk""".stripMargin

  // ---------------------------------------------------------------------
  // mix3_dsir_importance — DSIR-shaped data selection by hashed n-gram
  // importance weighting (Xie et al. 2023, "Data Selection for Language
  // Models via Importance Resampling": estimate target-domain vs raw-pool
  // feature distributions over hashed n-gram buckets, weight raw docs by
  // the target/raw likelihood ratio, and keep the highest-importance
  // slice). Feature space = unigrams + bigrams md5-hashed into B=128
  // buckets (the paper's hashed n-gram generative model; md5 is the
  // engine-portable hash every stored-artifact decision in this repo
  // rides on). The target sample is the `src0` slice (the stand-in for
  // a curated quality corpus, e.g. the paper's Wikipedia+books target).
  //
  // Exact-integer form (the determinism contract forbids the paper's
  // log-likelihood sum — ln is transcendental and not bit-portable):
  // bucket probabilities are Laplace-smoothed ppb integers
  //   pt_b = (t_b + 1)·10⁹ div (T + B),  pc_b = (c_b + 1)·10⁹ div (C + B)
  // the bucket weight is the ppm likelihood ratio w_b = pt_b·10⁶ div
  // pc_b, and a doc's importance is the count-weighted MEAN bucket ratio
  //   imp_ppm = (Σ_b n_db · w_b) div Σ_b n_db
  // — a linear-space variant of the paper's mean log-ratio: same
  // per-feature evidence, arithmetic instead of geometric pooling, every
  // step exact int64 so any executor count ranks identically. Selection
  // is the deterministic top-⌈R/5⌉ by (imp_ppm desc, doc_id) — the
  // reproducibility stance of mix1/mix2 (the paper resamples with Gumbel
  // noise; a seeded variant would ride an md5 key like pk4's shuffle).
  //
  // Scale: featurization is MAP-ONLY (one explode of the unigram+bigram
  // array — no window, t12's bigram idiom); the per-doc bucket counts
  // and the two distribution aggregates are map-side-combined shuffles
  // bounded by (docs·B) and B rows; the B-row weight table broadcasts
  // back; selection is orderBy+limit = Spark's distributed TakeOrdered
  // (each partition forwards ≤ k rows — no corpus-wide window). At
  // 100 TB the only int64-overflow risk is (c_b+1)·10⁹ at corpus counts
  // ≥ ~9·10⁹ features — the weight table is B rows computed once, so
  // production arithmetic would carry DECIMAL(38,0) there (exact in
  // both engines) at zero plan cost; gate scale stays int64.
  // 10× probe: 4.44 → 18.49 s (the unigram+bigram feature explode feeds
  // both distribution aggs; selection stays TakeOrdered-bounded).
  // private[graft]: streamingDsirGate's JVM twin hashes mod the SAME
  // constant — a local copy there would silently diverge if this changed
  private[graft] val dsirB = 128L
  private val dsirKeepDiv = 5L // keep the top fifth of the raw pool

  /** mix3/mix4's shared featurizer: md5-hashed unigram+bigram buckets,
    * one (doc_id, source, b) row per feature occurrence — map-only.
    */
  private def dsirFeatures(docs: DataFrame): DataFrame = {
    val a = split(col("text"), " ")
    val bigrams = zip_with(
      slice(a, lit(1), greatest(size(a) - 1, lit(0))),
      slice(a, lit(2), greatest(size(a) - 1, lit(0))),
      (x, y) => concat(x, lit(" "), y))
    docs
      .select(col("doc_id"), col("source"), explode(concat(a, bigrams)).as("f"))
      .select(col("doc_id"), col("source"),
        pmod(graft.functions.VectorFunctions.md5Prefix60(col("f")),
          lit(dsirB)).as("b"))
  }

  /** Every raw doc's importance score (doc_id, n_feats, imp_ppm) —
    * dsirSelect's scoring stage without the top-k cut, exposed so the
    * streaming gate's per-doc JVM twin has a batch frame to pin
    * bit-parity against.
    */
  private[graft] def dsirScoreAll(docs: DataFrame, targetSource: String): DataFrame = {
    // ONE feature pass (explode + md5 bucket) serves both the target
    // bucket histogram and the per-doc corpus counts: the raw feature
    // frame was previously scanned twice (Catalyst does not dedup common
    // subplans), re-exploding and re-hashing the whole corpus once per
    // side. The (doc_id, b) pre-aggregate is map-side combinable, carries
    // only longs, and both sides derive from its checkpoint.
    val feats = dsirFeatures(docs)
    val isTarget = col("source") === targetSource
    val perDoc = feats
      .groupBy(col("doc_id"), isTarget.as("is_t"), col("b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val tb = perDoc.filter(col("is_t")).groupBy("b").agg(sum("n").as("tc"))
    val ds = perDoc.filter(!col("is_t")).select("doc_id", "b", "n")
    val cb = ds.groupBy("b").agg(sum("n").as("cc"))
    // scalar totals fold the B-row bucket tables, NOT the corpus-sized
    // feature frame again (Catalyst does not dedup common subplans —
    // a feats re-aggregation would be a third corpus scan); coalesce
    // because sum over an EMPTY bucket table is NULL, where the oracle's
    // COUNT(*) is 0 — an absent targetSource must hit the Laplace floor,
    // not null every weight
    val tt = tb.agg(coalesce(sum("tc"), lit(0L)).as("tn"))
    val ct = cb.agg(coalesce(sum("cc"), lit(0L)).as("cn"))
    val w = cb.join(tb, Seq("b"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(ct))
      .select(col("b"),
        expr(s"((coalesce(tc, 0L) + 1L) * 1000000000L div (tn + $dsirB)) " +
          s"* 1000000L div " +
          s"greatest(1L, (cc + 1L) * 1000000000L div (cn + $dsirB))").as("w"))
    ds.join(broadcast(w), Seq("b"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_feats"), sum(col("n") * col("w")).as("sw"))
      .withColumn("imp_ppm", expr("sw div n_feats"))
      .select("doc_id", "n_feats", "imp_ppm")
  }

  private[graft] def dsirSelect(docs: DataFrame, targetSource: String): DataFrame = {
    val nRaw = docs.filter(col("source") =!= targetSource).count()
    val k = ((nRaw + dsirKeepDiv - 1) / dsirKeepDiv).toInt
    val scored = dsirScoreAll(docs, targetSource)
      .orderBy(col("imp_ppm").desc, col("doc_id")).limit(k)
    // rank window runs over the k survivors only (t9's pattern)
    scored
      .withColumn("sel_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("imp_ppm").desc, col("doc_id"))).cast("long"))
      .select(col("sel_rank"), col("doc_id"), col("n_feats"), col("imp_ppm"))
      .orderBy("sel_rank")
  }

  private def mix3DsirImportance(s: SparkSession, d: String): DataFrame =
    dsirSelect(Tables.documents(s, d), "src0")

  private val mix3Sql = graft.OracleHints.materializeCtes(
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
       |  FROM documents),
       |uni AS (SELECT doc_id, source, unnest(toks) AS f FROM t),
       |bg AS (SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS f
       |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) u(i)),
       |fe AS (SELECT doc_id, source,
       |    ('0x' || substring(md5(f), 1, 15))::BIGINT % $dsirB AS b
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bg)),
       |tb AS (SELECT b, COUNT(*) AS tc FROM fe WHERE source = 'src0' GROUP BY 1),
       |tt AS (SELECT COUNT(*) AS tn FROM fe WHERE source = 'src0'),
       |ds AS (SELECT doc_id, b, COUNT(*) AS n
       |  FROM fe WHERE source <> 'src0' GROUP BY 1, 2),
       |cb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS cc FROM ds GROUP BY 1),
       |ct AS (SELECT CAST(SUM(n) AS BIGINT) AS cn FROM ds),
       |w AS (SELECT cb.b,
       |    ((COALESCE(tb.tc, 0) + 1) * 1000000000 // (tt.tn + $dsirB))
       |      * 1000000
       |      // GREATEST(1, (cb.cc + 1) * 1000000000 // (ct.cn + $dsirB)) AS w
       |  FROM cb LEFT JOIN tb USING (b) CROSS JOIN tt CROSS JOIN ct),
       |kk AS (SELECT (COUNT(*) + ${dsirKeepDiv - 1}) // $dsirKeepDiv AS k
       |  FROM documents WHERE source <> 'src0'),
       |sc AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_feats,
       |    CAST(SUM(n * w.w) AS BIGINT) AS s
       |  FROM ds JOIN w USING (b) GROUP BY 1),
       |sel AS (SELECT doc_id, n_feats, s // n_feats AS imp_ppm,
       |    CAST(row_number() OVER (ORDER BY s // n_feats DESC, doc_id)
       |      AS BIGINT) AS sel_rank
       |  FROM sc QUALIFY sel_rank <= (SELECT k FROM kk))
       |SELECT sel_rank, doc_id, n_feats, CAST(imp_ppm AS BIGINT) AS imp_ppm
       |FROM sel ORDER BY sel_rank""".stripMargin)

  // ---------------------------------------------------------------------
  // mix4_incremental_dsir — incremental maintenance of mix3's DSIR
  // weight table (the batch-vs-stored-state convention of dd11/sim9/
  // search3/t14/pipe3, now on the curation-stats side): tonight's batch
  // (doc_id % 7 = 3, pipe3's split) folds into the STORED bucket stats
  // without re-featurizing the stored corpus — bucket counts are sums
  // over disjoint doc sets, so stored + batch ≡ full rebuild
  // bit-for-bit (t14's argument). That equivalence IS what the gate
  // checks: Spark computes the MERGE of two split stats frames, the
  // oracle computes the REBUILD over the full corpus, and the compare
  // pins their equality. Output is the maintained weight table itself
  // (b, tc, cc, w) — the B-row broadcast artifact every nightly mix3
  // selection consumes, weights in dsirSelect's exact arithmetic.
  //
  // Scale: O(batch features) map work + a B-row outer join; the stored
  // stats frame stands for the stored table (at 100 TB it IS a B-row
  // table read back, never re-derived — dd11's convention). 10× probe:
  // 1.42 → 6.38 s (both splits re-featurized in-probe; production pays
  // only the batch side).
  private def mix4IncrementalDsir(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isTarget = col("source") === "src0"
    def stats(part: DataFrame) = dsirFeatures(part)
      .groupBy("b")
      .agg(sum(when(isTarget, 1L).otherwise(0L)).as("tc"),
        sum(when(!isTarget, 1L).otherwise(0L)).as("cc"))
    val stored = stats(docs.filter(col("doc_id") % 7 =!= 3))
      .select(col("b"), col("tc").as("tc0"), col("cc").as("cc0"))
    val batch = stats(docs.filter(col("doc_id") % 7 === 3))
      .select(col("b"), col("tc").as("tc1"), col("cc").as("cc1"))
    val merged = stored.join(batch, Seq("b"), "full_outer")
      .select(col("b"),
        (coalesce(col("tc0"), lit(0L)) + coalesce(col("tc1"), lit(0L))).as("tc"),
        (coalesce(col("cc0"), lit(0L)) + coalesce(col("cc1"), lit(0L))).as("cc"))
    val tot = merged.agg(coalesce(sum("tc"), lit(0L)).as("tn"),
      coalesce(sum("cc"), lit(0L)).as("cn"))
    merged.crossJoin(broadcast(tot))
      .select(col("b"), col("tc"), col("cc"),
        expr(s"((tc + 1L) * 1000000000L div (tn + $dsirB)) * 1000000L div " +
          s"greatest(1L, (cc + 1L) * 1000000000L div (cn + $dsirB))").as("w"))
      .orderBy("b")
  }

  /** Oracle = the full REBUILD (no split, no merge) — hash equality with
    * the Spark-side merge is the incremental-maintenance theorem.
    * MATERIALIZED: `st` fans out to `tot` and the final select, and
    * un-hinted DuckDB would re-run the corpus featurization per
    * reference (the OracleHints inlining trap).
    */
  private val mix4Sql = graft.OracleHints.materializeCtes(
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
       |  FROM documents),
       |uni AS (SELECT doc_id, source, unnest(toks) AS f FROM t),
       |bg AS (SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS f
       |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) u(i)),
       |fe AS (SELECT doc_id, source,
       |    ('0x' || substring(md5(f), 1, 15))::BIGINT % $dsirB AS b
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bg)),
       |st AS (SELECT b,
       |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS tc,
       |    CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS cc
       |  FROM fe GROUP BY 1),
       |tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS tn,
       |    CAST(SUM(cc) AS BIGINT) AS cn FROM st)
       |SELECT b, tc, cc,
       |  CAST(((tc + 1) * 1000000000 // (tn + $dsirB)) * 1000000
       |    // GREATEST(1, (cc + 1) * 1000000000 // (cn + $dsirB)) AS BIGINT) AS w
       |FROM st CROSS JOIN tot ORDER BY b""".stripMargin)

  // ---------------------------------------------------------------------
  // pk4_shuffle — deterministic global training-order shuffle + sharding
  // (the "seeded shuffle" every data loader needs reproducibly): each doc
  // gets a portable seeded hash key, lands in shard = key mod S, and
  // takes its within-shard position from the hash order. Re-running with
  // the same seed reproduces the exact epoch order on any cluster size;
  // changing the seed is a fresh permutation.
  //
  // Scale: ONE shuffle (the window partitioned by shard); shard count S
  // would be O(cluster parallelism) so each shard's sort is a partition-
  // local sort of ~N/S keys. No driver-side work. The md5-derived key
  // (t10's conv trick) keeps the permutation engine-portable — DuckDB
  // replays it bit-for-bit, and so would any other store.
  private def pk4Shuffle(s: SparkSession, d: String): DataFrame = {
    val seed = 42
    val shards = 8L
    val hh = graft.functions.VectorFunctions.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":"), lit(seed)))
    val w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), hh.as("hkey"))
      .withColumn("shard", pmod(col("hkey"), lit(shards)))
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  private val pk4Sql =
    """WITH h AS (SELECT doc_id,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
      |      AS hkey FROM documents),
      |s AS (SELECT doc_id, hkey, hkey % 8 AS shard FROM h)
      |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hkey, doc_id) - 1
      |    AS BIGINT) AS pos
      |FROM s ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------------
  // pipe1_train_manifest — the END-TO-END prep pipeline as ONE composed
  // declarative plan: quality gate (t2's exact boolean) → exact dedup
  // first-wins (dd1) → test-split decontamination (dc1's doc_id%10 split
  // at exact-hash granularity) → seeded shuffle manifest (pk4). This is
  // the "run your whole prep in one call" surface: because every stage
  // is a declarative transform on the same frame, Catalyst fuses them —
  // the quality predicate evaluates inside the parquet scan's codegen
  // stage, dedup is one hash shuffle, decontamination an AQE-sized
  // anti-join, and the manifest one more bounded shuffle. Four pipeline
  // stages, three shuffles total, zero materializations — where an
  // airflow-style stage-per-job pipeline would write and re-read the
  // corpus three times.
  private def pipe1TrainManifest(s: SparkSession, d: String): DataFrame = {
    val nWords = size(split(col("text"), " ")).cast("long")
    val nAlpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
    val base = Tables.documents(s, d)
      .withColumn("n_words", nWords)
      .filter(nWords >= 10L && nAlpha * 2L > col("n_chars"))
      .withColumn("th", md5(col("text")))
    val test = base.filter(col("doc_id") % 10 === 0).select(col("th")).distinct()
    val train = base.filter(col("doc_id") % 10 =!= 0)
    val w = Window.partitionBy("th").orderBy("doc_id")
    val clean = train
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(test, Seq("th"), "left_anti")
    val hh = graft.functions.VectorFunctions.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":42")))
    val ws = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    clean.select(col("doc_id"), col("n_words"), hh.as("hkey"))
      .withColumn("shard", pmod(col("hkey"), lit(8L)))
      .withColumn("pos", row_number().over(ws).cast("long") - 1L)
      .select(col("doc_id"), col("n_words"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  private val pipe1Sql =
    """WITH q AS (SELECT doc_id, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, md5(text) AS th
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 10
      |    AND len(regexp_replace(text, '[^a-z]', '', 'g')) * 2 > n_chars),
      |test AS (SELECT DISTINCT th FROM q WHERE doc_id % 10 = 0),
      |ded AS (SELECT doc_id, n_words, th FROM (
      |    SELECT doc_id, n_words, th,
      |      row_number() OVER (PARTITION BY th ORDER BY doc_id) AS rn
      |    FROM q WHERE doc_id % 10 <> 0) WHERE rn = 1),
      |cl AS (SELECT doc_id, n_words FROM ded
      |  WHERE th NOT IN (SELECT th FROM test)),
      |h AS (SELECT doc_id, n_words,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
      |      AS hkey FROM cl)
      |SELECT doc_id, n_words, CAST(hkey % 8 AS BIGINT) AS shard,
      |  CAST(row_number() OVER (PARTITION BY hkey % 8 ORDER BY hkey, doc_id) - 1
      |    AS BIGINT) AS pos
      |FROM h ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------------
  // pipe2_full_prep — the PRODUCTION LLM prep pipeline composed end-to-end
  // as ONE declarative program (pipe1's composition thesis at full
  // strength): where pipe1 chains quality → EXACT dedup → decon →
  // shuffle, this runs the pipeline a real pretraining corpus build runs:
  //
  //   1. quality gate        (t2's exact boolean — map-only, fused into
  //                           the parquet scan's codegen stage)
  //   2. FUZZY dedup         (dd3's MinHash-LSH candidates → dd6's exact
  //                           integer Jaccard ≥ 0.8 verify → dd7's
  //                           min-label connected components → dd12's
  //                           keep-best representative per cluster)
  //   3. decontamination     (dc1's word-3-gram overlap vs the held-out
  //                           doc_id%10=0 split: drop train docs with
  //                           ≥ 20% shingle overlap, exact integer test)
  //   4. temperature mixture (mix2's α=0.5 exact-integer re-weighting,
  //                           budget = half the survivors — the budget is
  //                           derived from the data, a scalar subquery in
  //                           the oracle, not a magic constant)
  //   5. seeded shuffle      (pk4's portable md5 permutation → shard, pos)
  //   6. packing             (pk1's layout in TRAINING order: global token
  //                           offsets + context-window spans, prefix-summed
  //                           shard-major — shuffle first, then pack, the
  //                           order a sequential trainer consumes)
  //
  // Output: one manifest row per surviving doc — (doc_id, source,
  // n_tokens, shard, pos, start_off, chunk_first, chunk_last).
  //
  // Scale (the point of the exercise): all six stages are declarative
  // transforms on one frame lineage, so Catalyst fuses them — the
  // corpus-sized shuffles are (a) the distinct-shingle-hash shuffle shared
  // by verify + decon, (b) the per-doc shingle-set/count aggs, (c) the
  // MinHash signature agg, (d) the band self-join over DISTINCT
  // signatures, (e) the candidate verify joins (candidate-sized), (f) the
  // keep-best agg + join-back, (g) the decon overlap join + aggs, (h) ONE
  // source-partitioned window (mixture rank), (i) ONE shard-partitioned
  // window computing pos AND local offsets in a single Window op, plus the
  // presentation sort — ~10 shuffles for a 6-stage pipeline, where a
  // stage-per-job orchestration would write and re-read the corpus 5×.
  // Label propagation runs on the verified-pair graph (pair-sized, not
  // corpus-sized); the 8 per-shard totals cross the driver as scalars
  // (the HWM exception) and broadcast back. The manifest frame is
  // localCheckpointed once before its two consumers (totals + emission) —
  // in production this is exactly the point where the manifest table is
  // written; at 100 TB the checkpoint is a narrow ~50 B/doc frame, and
  // every stage upstream of it has already collapsed the token streams.
  private def pipe2FullPrep(s: SparkSession, d: String): DataFrame =
    pipe2ManifestFrame(s, d).orderBy("shard", "pos")

  /** pipe2's manifest frame, unordered — shared by pipe2 (presentation
    * sort) and pipe4 (chunk materialization over the same manifest).
    */
  private def pipe2ManifestFrame(s: SparkSession, d: String): DataFrame = {
    val nWords = size(split(col("text"), " ")).cast("long")
    val nAlpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
    // stage 1 — quality gate; held-out split excluded from training
    val qual = Tables.documents(s, d)
      .filter(nWords >= 10L && nAlpha * 2L > col("n_chars"))
    val train = qual.filter(col("doc_id") % 10 =!= 0)

    // stage 2 — fuzzy dedup (LSH candidates, exact verify, cluster,
    // keep-best). ONE shingle scan (Dedup.shingleProfileOf) builds the
    // MinHash signatures, the exact-verify hash arrays AND the decon
    // fingerprint counts — the previous shape exploded + hashed the
    // train corpus twice (signature pass, verify pass) with a distinct
    // and a groupBy shuffle each.
    val prof = Dedup.shingleProfileOf(train).localCheckpoint()
    val hs = prof.select(col("doc_id"), col("hs"), col("n"))
    val pairs = Dedup.lshCandidatesFromSig(prof)
      .join(hs.select(col("doc_id").as("ida"), col("hs").as("ha"), col("n").as("na")), "ida")
      .join(hs.select(col("doc_id").as("idb"), col("hs").as("hb"), col("n").as("nb")), "idb")
      .withColumn("common",
        graft.functions.VectorFunctions.intersectCountSorted(col("ha"), col("hb")))
      .filter(col("common") * 10L >= (col("na") + col("nb") - col("common")) * 8L)
      .select("ida", "idb")
    val kept = Dedup.keepBest(train, Dedup.propagateLabels(pairs))
      .filter(col("kept")).select("doc_id")

    // stage 3 — decontamination: the benchmark fingerprint universe comes
    // from the FULL held-out split (benchmarks are external — they don't
    // pass the training quality gate first)
    val testSh = Dedup.shingleRowsOf(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0))
      .select(xxhash64(col("s")).as("h")).distinct()
    val dsh = prof.join(kept, "doc_id")
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val ctot = prof.join(kept, "doc_id")
      .select(col("doc_id"), col("n").as("n_shingles"))
    val cshr = dsh.join(testSh, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val surv = train.select(col("doc_id"), col("source"), nWords.as("n_tokens"))
      .join(ctot, "doc_id")
      .join(cshr, Seq("doc_id"), "left")
      .filter(coalesce(col("n_shared"), lit(0L)) * 5L < col("n_shingles"))
      .select("doc_id", "source", "n_tokens")

    // stage 4 — temperature mixture (mix2, α = 0.5), doc budget = half
    // the surviving corpus
    val nd = surv.groupBy("source").agg(count(lit(1)).as("n_d"))
      .withColumn("w_d", floor(sqrt(col("n_d") * 1000000.0)).cast("long"))
    val tot = nd.agg(sum("w_d").as("sw"))
      .crossJoin(surv.agg(expr("count(1) div 2").as("tt")))
    val tgt = nd.crossJoin(tot)
      .select(col("source"), least(col("n_d"), expr("tt * w_d div sw")).as("target_d"))
    val hh = graft.functions.VectorFunctions.md5Prefix60(col("doc_id").cast("string"))
    val wSrc = Window.partitionBy("source").orderBy("hh", "doc_id")
    val mixed = surv.withColumn("hh", hh)
      .withColumn("rk", row_number().over(wSrc).cast("long"))
      .join(broadcast(tgt), "source")
      .filter(col("rk") <= col("target_d"))
      .select("doc_id", "source", "n_tokens")

    // stages 5+6 — seeded shuffle then pack in training order. pos and
    // the within-shard running token offset share one Window op (same
    // partition + order); shard totals are 8 driver scalars prefix-summed
    // and broadcast back (pk1's two-phase distributed prefix sum with
    // shards as the partitions).
    val hkey = graft.functions.VectorFunctions.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":42")))
    val wSh = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    // r20: the 8 shard totals ride the SAME job as the checkpoint
    // materialization via observe() (dd7's convergence pattern) — the
    // old shape paid a separate groupBy+collect action over the
    // checkpointed manifest for scalars the checkpoint pass already saw.
    // Name made session-unique: pipe2 and pipe4 build this frame
    // concurrently under Verify's thread pool, and Observation latches
    // metrics BY NAME from any completing execution.
    val obs = new org.apache.spark.sql.Observation(
      graft.Session.fresh("pipe2_stots_"))
    val manifest = mixed.withColumn("hkey", hkey)
      .withColumn("shard", pmod(col("hkey"), lit(8L)))
      .withColumn("pos", row_number().over(wSh).cast("long") - 1L)
      .withColumn("local_off",
        coalesce(sum(col("n_tokens"))
          .over(wSh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .observe(obs, coalesce(sum(when(col("shard") === 0L, col("n_tokens"))
          .otherwise(0L)), lit(0L)).as("t0"),
        (1 until 8).map(i => coalesce(sum(when(col("shard") === i.toLong,
          col("n_tokens")).otherwise(0L)), lit(0L)).as(s"t$i")): _*)
      .localCheckpoint()
    val stots = (0 until 8)
      .map(i => i.toLong -> obs.get(s"t$i").asInstanceOf[Long]).toMap
    val cum = (0 until 8).scanLeft(0L)((acc, i) => acc + stots.getOrElse(i.toLong, 0L))
    val offs = s.createDataFrame((0 until 8).map(i => (i.toLong, cum(i))))
      .toDF("shard", "shard_off")
    manifest.join(broadcast(offs), "shard")
      .withColumn("start_off", col("shard_off") + col("local_off"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("shard"), col("pos"), col("start_off"),
        expr(s"start_off div $packBudget").as("chunk_first"),
        expr(s"(start_off + greatest(n_tokens, 1L) - 1L) div $packBudget")
          .as("chunk_last"))
  }

  /** See [[graft.OracleHints.materializeCtes]] — the pipe chains are the
    * measured worst case of DuckDB's CTE re-inlining (pipe2: 146 s →
    * 0.5 s at sf0.01, identical rows).
    */
  private def materializeCtes(sql: String): String =
    graft.OracleHints.materializeCtes(sql)

  /** pipe2's CTE chain ending at `pk(doc_id, source, n_tokens, shard,
    * pos, start_off)` — shared by pipe2's and pipe4's oracles.
    */
  private val pipe2SqlCtes =
    s"""q0 AS (SELECT doc_id, source, text FROM documents
       |  WHERE len(string_split(text, ' ')) >= 10
       |    AND len(regexp_replace(text, '[^a-z]', '', 'g')) * 2 > n_chars),
       |tr AS (SELECT * FROM q0 WHERE doc_id % 10 <> 0),
       |${Dedup.shinglesSqlCteOver("tr")},
       |${Dedup.lshCandSqlCtesOver("sh")},
       |nsh AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |cm AS (SELECT c.ida, c.idb, COUNT(*) AS common
       |  FROM cand c JOIN sh a ON a.doc_id = c.ida
       |  JOIN sh b ON b.doc_id = c.idb AND b.s = a.s
       |  GROUP BY 1, 2),
       |pairs AS (SELECT cm.ida, cm.idb FROM cm
       |  JOIN nsh na ON na.doc_id = cm.ida JOIN nsh nb ON nb.doc_id = cm.idb
       |  WHERE common * 10 >= (na.n + nb.n - common) * 8),
       |edges AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
       |rr AS (SELECT ida AS doc_id, idb AS reach FROM edges
       |  UNION SELECT rr.doc_id, e.idb FROM rr JOIN edges e ON e.ida = rr.reach),
       |lbl AS (SELECT doc_id, LEAST(doc_id, MIN(reach)) AS cluster_id
       |  FROM rr GROUP BY doc_id),
       |tk AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM tr),
       |la AS (SELECT tk.doc_id, tk.source, tk.n_tokens,
       |    COALESCE(lbl.cluster_id, tk.doc_id) AS cluster_id
       |  FROM tk LEFT JOIN lbl ON lbl.doc_id = tk.doc_id),
       |rep AS (SELECT cluster_id, doc_id AS rep_id FROM (
       |    SELECT cluster_id, doc_id, row_number() OVER (
       |      PARTITION BY cluster_id ORDER BY n_tokens DESC, doc_id) AS rn
       |    FROM la) WHERE rn = 1),
       |ded AS (SELECT la.doc_id, la.source, la.n_tokens
       |  FROM la JOIN rep USING (cluster_id) WHERE la.doc_id = rep.rep_id),
       |te AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE doc_id % 10 = 0),
       |tesh AS (SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
       |  FROM te, UNNEST(generate_series(1, greatest(len(toks)-2, 0))) u(i)),
       |dsh AS (SELECT sh.doc_id, sh.s FROM sh JOIN ded ON ded.doc_id = sh.doc_id),
       |ctot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM dsh GROUP BY 1),
       |cshr AS (SELECT doc_id, COUNT(*) AS n_shared
       |  FROM dsh JOIN tesh USING (s) GROUP BY 1),
       |srv AS (SELECT d2.doc_id, d2.source, d2.n_tokens FROM ded d2
       |  JOIN ctot ON ctot.doc_id = d2.doc_id
       |  LEFT JOIN cshr ON cshr.doc_id = d2.doc_id
       |  WHERE COALESCE(cshr.n_shared, 0) * 5 < ctot.n_shingles),
       |nd AS (SELECT source, COUNT(*) AS n_d,
       |    CAST(FLOOR(SQRT(COUNT(*) * 1000000.0)) AS BIGINT) AS w_d
       |  FROM srv GROUP BY 1),
       |tot AS (SELECT CAST(SUM(w_d) AS BIGINT) AS sw,
       |    (SELECT COUNT(*) // 2 FROM srv) AS tt FROM nd),
       |tgt AS (SELECT source, least(n_d, tt * w_d // sw) AS target_d
       |  FROM nd CROSS JOIN tot),
       |rkd AS (SELECT doc_id, source, n_tokens,
       |    row_number() OVER (PARTITION BY source ORDER BY
       |      ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
       |      doc_id) AS rk
       |  FROM srv),
       |mixed AS (SELECT r.doc_id, r.source, r.n_tokens
       |  FROM rkd r JOIN tgt USING (source) WHERE r.rk <= target_d),
       |shf AS (SELECT doc_id, source, n_tokens,
       |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
       |      AS hkey FROM mixed),
       |sp AS (SELECT doc_id, source, n_tokens, CAST(hkey % 8 AS BIGINT) AS shard,
       |    CAST(row_number() OVER (PARTITION BY hkey % 8 ORDER BY hkey, doc_id) - 1
       |      AS BIGINT) AS pos
       |  FROM shf),
       |pk AS (SELECT doc_id, source, n_tokens, shard, pos,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY shard, pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM sp)""".stripMargin

  private val pipe2Sql = materializeCtes(
    s"""WITH RECURSIVE
       |$pipe2SqlCtes
       |SELECT doc_id, source, n_tokens, shard, pos, start_off,
       |  start_off // $packBudget AS chunk_first,
       |  (start_off + greatest(n_tokens, 1) - 1) // $packBudget AS chunk_last
       |FROM pk ORDER BY shard, pos""".stripMargin)

  // ---------------------------------------------------------------------
  // pipe4_pack_emit — pipe2 carried through to what the trainer actually
  // reads: where pipe2 ends at the packing MANIFEST (layout rows), this
  // chains pk2's chunk materialization and pk3's attention-span
  // boundaries onto that manifest IN THE SAME Catalyst plan — the full
  // production path corpus → quality → fuzzy dedup → decon → mixture →
  // shuffle → pack → materialized training chunks with block-diagonal
  // attention boundaries. Output: one row per packed chunk —
  // (chunk_id, n_tokens, n_docs, chunk_md5, n_seqs, seq_starts_csv) —
  // the chunk digest stands for the token payload (exactly pk2's
  // convention) and seq_starts_csv is pk3's canonical in-chunk
  // document-start offsets.
  //
  // Scale — shuffles ADDED on top of pipe2's ~10 (counted on the
  // explain): (1) the manifest⋈documents text join-back (manifest is
  // doc-count-sized and narrow; AQE broadcasts it at gate scale, SMJ
  // at 100 TB — either way ONE exchange of manifest rows, the token
  // payload itself never pre-shuffles because documents arrive
  // partition-local from the scan), (2) the regroup of exploded tokens
  // by chunk_id (pk2's one unavoidable token shuffle — near-range
  // because chunks concatenate adjacent (shard, pos) docs, each group
  // ≤ packBudget tokens), and (3) the span-rows regroup by chunk_id
  // (pk3's shuffle — narrow (chunk_id, rel) longs, ≤ B rows per
  // group). The final chunks⋈spans join reuses the chunk_id hash
  // partitioning both aggregates emit (no extra exchange). The
  // manifest frame is localCheckpointed once and feeds both sides —
  // in production it is the manifest table pipe2 already wrote.
  private def pipe4PackEmit(s: SparkSession, d: String): DataFrame = {
    val man = pipe2ManifestFrame(s, d)
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        col("chunk_first"), col("chunk_last"))
      .localCheckpoint() // 2 consumers: token emission + span table
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val chunks = man.join(toks, "doc_id")
      .select(col("doc_id"), col("start_off"),
        posexplode(col("toks")).as(Seq("j", "tok")))
      .select(col("doc_id"), col("tok"),
        (col("start_off") + col("j")).as("pos"))
      .withColumn("chunk_id", expr(s"pos div $packBudget"))
      // all-imperative aggregates (pk2's Expand-avoidance stance): one
      // regroup-by-chunk_id shuffle, no two-shuffle distinct plan
      .groupBy("chunk_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        collect_set(col("doc_id")).as("doc_set"),
        md5(array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")),
          " ")).as("chunk_md5"))
      .select(col("chunk_id"), col("n_tokens"),
        size(col("doc_set")).cast("long").as("n_docs"), col("chunk_md5"))
    val spans = man
      // chunk range comes from the manifest's own chunk_first/chunk_last
      // (one authoritative formula — pipe2ManifestFrame's)
      .select(col("start_off"),
        explode(sequence(col("chunk_first"), col("chunk_last"))).as("chunk_id"))
      .select(col("chunk_id"),
        (greatest(col("start_off"), col("chunk_id") * packBudget) -
          col("chunk_id") * packBudget).as("rel"))
      .groupBy("chunk_id")
      .agg(count(lit(1)).as("n_seqs"),
        array_join(sort_array(collect_list(col("rel"))), ",").as("seq_starts_csv"))
    chunks.join(spans, "chunk_id").orderBy("chunk_id")
  }

  private val pipe4Sql = materializeCtes(
    s"""WITH RECURSIVE
       |$pipe2SqlCtes,
       |mtx AS (SELECT pk.doc_id, pk.n_tokens, pk.start_off,
       |    string_split(d.text, ' ') AS toks
       |  FROM pk JOIN documents d USING (doc_id)),
       |etok AS (SELECT doc_id, start_off + u.i - 1 AS pos, toks[u.i] AS tok
       |  FROM mtx, UNNEST(generate_series(1, CAST(n_tokens AS INT))) u(i)),
       |chk AS (SELECT pos // $packBudget AS chunk_id,
       |    COUNT(*) AS n_tokens,
       |    COUNT(DISTINCT doc_id) AS n_docs,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
       |  FROM etok GROUP BY 1),
       |sp2 AS (SELECT CAST(u.c AS BIGINT) AS chunk_id,
       |    GREATEST(start_off, u.c * $packBudget) - u.c * $packBudget AS rel
       |  FROM pk, UNNEST(generate_series(CAST(start_off // $packBudget AS INT),
       |    CAST((start_off + n_tokens - 1) // $packBudget AS INT))) u(c)),
       |spn AS (SELECT chunk_id, COUNT(*) AS n_seqs,
       |    string_agg(CAST(rel AS VARCHAR), ',' ORDER BY rel) AS seq_starts_csv
       |  FROM sp2 GROUP BY 1)
       |SELECT c.chunk_id, c.n_tokens, c.n_docs, c.chunk_md5,
       |  s.n_seqs, s.seq_starts_csv
       |FROM chk c JOIN spn s USING (chunk_id) ORDER BY chunk_id""".stripMargin)

  // ---------------------------------------------------------------------
  // pipe3_incremental_prep — the INCREMENTAL ingest twin of pipe2: where
  // pipe2 answers "prep the corpus once", this answers "prep TONIGHT'S
  // BATCH against the prepped store" — the nightly run of a continuously
  // fed pretraining pipeline, and the pipeline-level member of the suite's
  // batch-vs-stored-index family (dd11 = dedup, sim9/sim14 = ANN, search3
  // = inverted index, q54 = aggregate view; reference analog: the
  // incremental `since`-parameter ingest, SURVEY §2.7 T1–T3, composed with
  // the full prep surface). Batch = doc_id % 7 = 3; store = the rest.
  //
  //   1. quality gate        (pipe2's predicate, batch rows only)
  //   2. within-batch EXACT dedup (dd1's keep-min-doc_id, keyed on
  //      md5(text) — survival decisions ride on an oracle-recomputable
  //      content key, never on xxhash64)
  //   3. fuzzy gate vs the STORED index (dd11's convention: the store's
  //      MinHash band rows stand for a bucketed index table appended per
  //      ingest — only the batch is shingled-and-signed per run in
  //      production; candidates are batch×store band collisions, verified
  //      by dd6's exact integer Jaccard ≥ 0.8; matching batch docs drop)
  //   4. decontamination     (pipe2's rule: ≥ 20% shingle overlap with the
  //      held-out doc_id % 10 = 0 fingerprint universe)
  //   5. manifest APPEND     (pk4 shard = md5-hkey mod 8; pos and
  //      start_off CONTINUE from the stored per-shard row/token totals —
  //      append-only offsets, nothing already written ever shifts; the 8
  //      stored (cnt, tot) pairs are the q54-style stored aggregate)
  //
  // Output: one manifest row per ACCEPTED batch doc — (doc_id, source,
  // n_tokens, shard, pos, start_off) — O(batch) rows.
  //
  // Scale: every frame after the band split is batch- or candidate-sized;
  // the store contributes (a) its band index (stored in production,
  // localCheckpoint stands for it here — same stance as dd11) and (b) 8
  // (cnt, tot) scalars. Nothing re-pairs, re-signs, or re-packs the
  // corpus: per-ingest cost is O(batch · bucketDegree) on clean stores,
  // and the stage-3 store-bucket cap bounds it at O(batch · bands · cap)
  // even on a DIRTY foreign store (the hot-store case of ScaleProbe's
  // `skew:pipe3` arm, last at commit 561c6b9 — see the guard comment at
  // stage 3). Mixture/packing rebalance is
  // deliberately OUT of the nightly path (it is a snapshot-time global
  // op — pipe2); production systems append with per-shard offsets
  // exactly so ingest never rewrites history.
  //
  // Plan audit (round 11, explain:pipe3_incremental_prep, with the
  // stage-3 store-bucket guard): still 13 pre-AQE shuffle exchanges for
  // the 5 stages — the guard's bucket-count window rides the same
  // (band, key) exchange the candidate join needs, and dropping the
  // candIds broadcast HINT costs nothing (AQE broadcasts the
  // candidate-sized side on clean stores and falls back to a shuffled
  // semi join on dirty ones — exactly the degradation we want); the
  // SortMergeJoins are the candidate-sized verify pair joins; the
  // within-batch dedup window recomputes once on the batch slice
  // (batch-sized — cheaper than a third checkpoint materialization).
  /** Store-side band buckets above this size are excluded from pipe3's
    * candidate join (dd9's bucket-cap rationale; see the stage-3 guard
    * comment below). 400 = dd9MaxBucket, inert on clean stores.
    */
  private[graft] val pipe3MaxStoreBucket = Dedup.dd9MaxBucket // one cap constant engine-wide; shared with Streams' store-model builder

  private def pipe3IncrementalPrep(s: SparkSession, d: String): DataFrame =
    pipe3ManifestFrame(s, d).orderBy("shard", "pos")

  /** pipe3's accepted-batch manifest, unordered — shared by pipe3
    * (presentation sort) and pipe5 (incremental chunk materialization
    * over the same appended rows).
    */
  private def pipe3ManifestFrame(s: SparkSession, d: String): DataFrame = {
    val isBatch = col("doc_id") % 7 === 3
    val nWords = size(split(col("text"), " ")).cast("long")
    val nAlpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
    // stage 1 — quality gate (held-out split excluded from train on both
    // sides, as in pipe2)
    val gated = Tables.documents(s, d)
      .filter(nWords >= 10L && nAlpha * 2L > col("n_chars"))
      .filter(col("doc_id") % 10 =!= 0)
    val store = gated.filter(!isBatch)
    // stage 2 — within-batch exact dedup, keep-min-doc_id per content key
    val wTh = Window.partitionBy("th").orderBy("doc_id")
    val bdd = gated.filter(isBatch)
      .withColumn("th", md5(col("text")))
      .withColumn("rk", row_number().over(wTh))
      .filter(col("rk") === 1).drop("th", "rk")
    // stage 3 — fuzzy gate vs the stored band index. One signature pass
    // serves both sides (the checkpoint stands for the stored index +
    // the batch's fresh signatures, dd11's convention); candidate pairs
    // and shingle sets are pinned because each is consumed twice.
    //
    // FOREIGN-STORE GUARD (round 11, closing the skew:pipe3 verdict —
    // ScaleProbe's `skew:pipe3` arm, last at commit 561c6b9, 10k docs: a
    // store of near-copies measured 17.89 s unguarded and 2.32 s capped,
    // vs 3.73 s uniform in the same session, accepted set unchanged):
    // store-side band buckets larger than pipe3MaxStoreBucket are
    // skipped entirely before the candidate join — dd9's cap, same
    // reasoning: an over-full bucket means that band doesn't
    // discriminate in that region (its expansion is a disguised B×S
    // cross product), and a store that GROWS such buckets has violated
    // the "store is prior prep output" contract anyway (prior runs
    // would have deduped it). The cap bounds candidates at
    // O(batch · bands · cap) independent of store size and keeps the
    // candidate-id set small enough for the semi join below regardless
    // of store dirtiness (the broadcast/driver-OOM mode is gone — the
    // semi join carries no broadcast hint; AQE picks the strategy).
    // Inert on clean stores: gate-corpus max store bucket is 3 at
    // sf0.01 and 13 at sf0.1 (measured via the oracle's band replay),
    // 30–130× under the cap, so pipe3's output is unchanged — the
    // oracle applies the identical cap (`sbk` CTE) so outputs stay
    // hash-identical even on corpora where the cap is live.
    val uni = store.unionByName(bdd)
    // ONE shingle scan of store+batch (Dedup.shingleProfileOf) feeds the
    // band index, the exact-verify arrays and the decon fingerprints —
    // previously three separate explode+hash passes over overlapping
    // doc sets (bands over uni, verify arrays over uni, decon over
    // fresh), each with its own distinct/groupBy shuffle.
    val prof = Dedup.shingleProfileOf(uni).localCheckpoint()
    val bands = Dedup.bandRowsFromSig(prof)
    val wBucket = Window.partitionBy("band", "key")
    val sBand = bands.filter(!isBatch)
      .withColumn("sb", count(lit(1)).over(wBucket))
      .filter(col("sb") <= pipe3MaxStoreBucket)
    val cand = bands.filter(isBatch)
        .select(col("doc_id").as("nid"), col("band"), col("key"))
      .join(sBand.select(col("doc_id").as("oid"), col("band"), col("key")),
        Seq("band", "key"))
      .select("nid", "oid").distinct()
      .localCheckpoint()
    val candIds = cand.select(col("nid").as("doc_id"))
      .union(cand.select(col("oid").as("doc_id"))).distinct()
    val hs = prof
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("hs"), col("n"))
    val dupNids = cand
      .join(hs.select(col("doc_id").as("nid"), col("hs").as("ha"), col("n").as("na")), "nid")
      .join(hs.select(col("doc_id").as("oid"), col("hs").as("hb"), col("n").as("nb")), "oid")
      .withColumn("common",
        graft.functions.VectorFunctions.intersectCountSorted(col("ha"), col("hb")))
      .filter(col("common") * 10L >= (col("na") + col("nb") - col("common")) * 8L)
      .select(col("nid").as("doc_id")).distinct()
    // batch-sized; referenced 3× (fsh / ctot fingerprint semis + acc) —
    // without the pin each reference re-runs the verify-join subtree
    val fresh = bdd.join(dupNids, Seq("doc_id"), "left_anti").localCheckpoint()
    // stage 4 — decontamination vs the held-out fingerprint universe
    val testSh = Dedup.shingleRowsOf(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0))
      .select(xxhash64(col("s")).as("h")).distinct()
    val freshIds = fresh.select("doc_id")
    val fsh = prof.join(freshIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val ctot = prof.join(freshIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("n").as("n_shingles"))
    val cshr = fsh.join(testSh, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val acc = fresh.select(col("doc_id"), col("source"), nWords.as("n_tokens"))
      .join(ctot, "doc_id")
      .join(cshr, Seq("doc_id"), "left")
      .filter(coalesce(col("n_shared"), lit(0L)) * 5L < col("n_shingles"))
      .select("doc_id", "source", "n_tokens")
    // stage 5 — append: pos/start_off continue from the stored per-shard
    // totals (8 broadcast rows — the stored aggregate)
    val hkey = graft.functions.VectorFunctions.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":42")))
    val stored = store.select(col("doc_id"), nWords.as("n_tokens"))
      .withColumn("shard", pmod(hkey, lit(8L)))
      .groupBy("shard")
      .agg(count(lit(1)).as("cnt0"), sum("n_tokens").as("tot0"))
    val wSh = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    acc.withColumn("hkey", hkey)
      .withColumn("shard", pmod(col("hkey"), lit(8L)))
      .join(broadcast(stored), Seq("shard"), "left")
      .withColumn("pos",
        coalesce(col("cnt0"), lit(0L)) + row_number().over(wSh).cast("long") - 1L)
      .withColumn("start_off", coalesce(col("tot0"), lit(0L)) +
        coalesce(sum(col("n_tokens"))
          .over(wSh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("doc_id", "source", "n_tokens", "shard", "pos", "start_off")
  }

  /** pipe3's CTE chain ending at `man(doc_id, source, n_tokens, shard,
    * pos, start_off)` — shared by pipe3's and pipe5's oracles. Also in
    * scope for consumers: `g` (the gated corpus) and the store side
    * `g WHERE doc_id % 7 <> 3`. NOTE: the chain interpolates
    * `Dedup.lshCandSqlCtesOver` for its `hm`/`sig`/`bands` CTEs, but
    * the generator's final `cand` CTE is DEAD here — `dirc` derives
    * the candidate pairs directly from `bands` so the store-side
    * bucket cap (`sbk`) can apply first; DuckDB never evaluates the
    * unused CTE. pipe2's oracle still consumes `cand` for real.
    */
  private val pipe3SqlCtes =
    s"""d0 AS (SELECT doc_id, source, text, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |g AS (SELECT * FROM d0
       |  WHERE n_tokens >= 10
       |    AND len(regexp_replace(text, '[^a-z]', '', 'g')) * 2 > n_chars
       |    AND doc_id % 10 <> 0),
       |bdd AS (SELECT doc_id, source, text, n_tokens FROM (
       |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
       |    FROM g WHERE doc_id % 7 = 3) WHERE rk = 1),
       |uni AS (SELECT doc_id, text FROM g WHERE doc_id % 7 <> 3
       |  UNION ALL SELECT doc_id, text FROM bdd),
       |${Dedup.shinglesSqlCteOver("uni")},
       |${Dedup.lshCandSqlCtesOver("sh")},
       |sbk AS (SELECT band, key FROM bands WHERE doc_id % 7 <> 3
       |  GROUP BY band, key HAVING COUNT(*) <= $pipe3MaxStoreBucket),
       |dirc AS (SELECT DISTINCT a.doc_id AS nid, b.doc_id AS oid
       |  FROM bands a
       |  JOIN (SELECT b2.doc_id, b2.band, b2.key FROM bands b2
       |        JOIN sbk USING (band, key) WHERE b2.doc_id % 7 <> 3) b
       |    ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id % 7 = 3),
       |nsh AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |cm AS (SELECT c.nid, c.oid, COUNT(*) AS common
       |  FROM dirc c JOIN sh a ON a.doc_id = c.nid
       |  JOIN sh b ON b.doc_id = c.oid AND b.s = a.s
       |  GROUP BY 1, 2),
       |dup AS (SELECT DISTINCT cm.nid FROM cm
       |  JOIN nsh na ON na.doc_id = cm.nid JOIN nsh nb ON nb.doc_id = cm.oid
       |  WHERE common * 10 >= (na.n + nb.n - common) * 8),
       |fresh AS (SELECT * FROM bdd WHERE doc_id NOT IN (SELECT nid FROM dup)),
       |te AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE doc_id % 10 = 0),
       |tesh AS (SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
       |  FROM te, UNNEST(generate_series(1, greatest(len(toks)-2, 0))) u(i)),
       |fsh AS (SELECT sh.doc_id, sh.s FROM sh JOIN fresh ON fresh.doc_id = sh.doc_id),
       |ctot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM fsh GROUP BY 1),
       |cshr AS (SELECT doc_id, COUNT(*) AS n_shared
       |  FROM fsh JOIN tesh USING (s) GROUP BY 1),
       |acc AS (SELECT f.doc_id, f.source, f.n_tokens FROM fresh f
       |  JOIN ctot ON ctot.doc_id = f.doc_id
       |  LEFT JOIN cshr ON cshr.doc_id = f.doc_id
       |  WHERE COALESCE(cshr.n_shared, 0) * 5 < ctot.n_shingles),
       |stm AS (SELECT CAST(hkey % 8 AS BIGINT) AS shard,
       |    CAST(COUNT(*) AS BIGINT) AS cnt0, CAST(SUM(n_tokens) AS BIGINT) AS tot0
       |  FROM (SELECT n_tokens,
       |      ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
       |        AS hkey
       |    FROM g WHERE doc_id % 7 <> 3) GROUP BY 1),
       |sp AS (SELECT doc_id, source, n_tokens,
       |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
       |      AS hkey,
       |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
       |      % 8 AS BIGINT) AS shard
       |  FROM acc),
       |man AS (SELECT sp.doc_id, sp.source, sp.n_tokens, sp.shard,
       |  CAST(COALESCE(stm.cnt0, 0)
       |    + row_number() OVER (PARTITION BY sp.shard ORDER BY hkey, doc_id) - 1
       |    AS BIGINT) AS pos,
       |  CAST(COALESCE(stm.tot0, 0)
       |    + COALESCE(SUM(sp.n_tokens) OVER (PARTITION BY sp.shard
       |        ORDER BY hkey, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS start_off
       |FROM sp LEFT JOIN stm USING (shard))""".stripMargin

  private val pipe3Sql = materializeCtes(
    s"""WITH
       |$pipe3SqlCtes
       |SELECT doc_id, source, n_tokens, shard, pos, start_off
       |FROM man ORDER BY shard, pos""".stripMargin)

  // ---------------------------------------------------------------------
  // pipe5_incremental_chunks — the incremental twin of pipe4, completing
  // the nightly path to the layer the trainer READS: when pipe3 accepts
  // tonight's batch, this emits exactly the per-shard packed chunks that
  // batch touches — every newly fillable chunk PLUS the rewrite of each
  // shard's OPEN boundary chunk (the partially-filled tail chunk whose
  // content straddles stored and new tokens). In the append-only
  // incremental world offsets are per-shard (pipe3's contract), so the
  // chunk key is (shard, chunk_id) with chunk c covering shard-local
  // positions [c·B, (c+1)·B); chunks strictly below each shard's open
  // chunk are immutable — already materialized by prior runs — and are
  // NEVER re-emitted.
  //
  // The boundary rewrite needs the stored tokens of the open chunk:
  // those come from the last few STORED docs of the shard (spans
  // crossing floor(tot0/B)·B — provably confined to the open chunk,
  // since every stored token position < tot0 < open_start + B). The
  // stored manifest is recomputed here the way pipe3 recomputes its
  // band index — in production BOTH are reads of tables prior runs
  // wrote, and the boundary-doc fetch is a per-shard tail lookup
  // (start_off range scan), O(shards) docs total.
  //
  // Output: (shard, chunk_id, n_tokens, n_docs, chunk_md5, n_seqs,
  // seq_starts_csv, is_full) — pk2's digest convention + pk3's span
  // offsets at the SHARD-LOCAL grain, is_full marking chunks that will
  // never be rewritten again (n_tokens = B). Shards with no accepted
  // batch doc emit nothing — output is O(batch tokens / B) rows.
  //
  // Scale: the only token-grain shuffle is the regroup of BATCH +
  // boundary tokens by (shard, chunk_id) — O(batch) rows, never the
  // store; spans ride the narrow layout frame; the chunks⋈spans join
  // reuses the aggregates' (shard, chunk_id) partitioning. Everything
  // upstream is pipe3's O(batch·bucketDegree) plan. Measured
  // (ScaleProbe sweep, batch AND store grown together): 5.35 s → 13.68 s at
  // 10× — 2.6×, sub-linear even though the probe re-derives the
  // store-sized manifest each run (production reads it).
  private def pipe5IncrementalChunks(s: SparkSession, d: String): DataFrame = {
    val nWords = size(split(col("text"), " ")).cast("long")
    val nAlpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
    val hkey = graft.functions.VectorFunctions.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":42")))
    // stored manifest (stands for reading the manifest table, see above)
    val wSh = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    val smang = Tables.documents(s, d)
      .filter(nWords >= 10L && nAlpha * 2L > col("n_chars"))
      .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 =!= 3)
      .select(col("doc_id"), nWords.as("n_tokens"))
      .withColumn("hkey", hkey)
      .withColumn("shard", pmod(col("hkey"), lit(8L)))
      .withColumn("start_off",
        coalesce(sum(col("n_tokens"))
          .over(wSh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .localCheckpoint()
    val opens = smang.groupBy("shard")
      .agg((expr(s"sum(n_tokens) div ${packBudget}L") * packBudget)
        .as("open_start"))
    val man = pipe3ManifestFrame(s, d)
      .select("shard", "doc_id", "start_off", "n_tokens")
      .localCheckpoint() // feeds touched-shards, tokens, and spans
    val touched = man.select("shard").distinct()
    val bnd = smang.join(broadcast(opens), "shard")
      .filter(col("start_off") + col("n_tokens") > col("open_start"))
      .join(broadcast(touched), Seq("shard"), "left_semi")
      .select("shard", "doc_id", "start_off", "n_tokens")
    val uni5 = bnd.unionByName(man)
      .join(broadcast(opens), Seq("shard"), "left")
      .withColumn("open_start", coalesce(col("open_start"), lit(0L)))
    shardChunksOf(uni5, Tables.documents(s, d)).orderBy("shard", "chunk_id")
  }

  // ---------------------------------------------------------------------
  // PRODUCTION-SHAPED pipe3/pipe5 (probe + spec surface, not a registry
  // entry — the registry's pipe3/pipe5 re-derive the store in-plan so
  // the DuckDB oracle can replay everything from the raw tables). In
  // production the store side is NOT re-derived per nightly run: the
  // previous run left behind (a) the capped MinHash band index, (b) the
  // per-doc shingle-hash signature table, (c) the held-out fingerprint
  // universe, (d) the 8 per-shard (cnt, tot) append cursors, (e) the
  // token-offset manifest, (f) the 8 open-chunk starts. materializeStore
  // writes exactly those six tables to parquet; pipe3ManifestFromStore /
  // pipe5FromStore run the same five stages + chunk materialization
  // READING them, touching the raw store only for the O(shards)
  // boundary docs' text. Output is bit-identical to the registry twins
  // (Pipe5FromStoreSpec). ScaleProbe's `prod:pipe5` arm (last at commit
  // 561c6b9) grew the STORE 10× with the batch fixed to measure the
  // incremental-only cost — the number the registry probe could not
  // isolate because its plan re-derives the store-sized manifest each
  // run. MEASURED (sf0.1 base, warm, r15): rederive-in-plan 4.83 s;
  // from-store 3.59 s at 1× and 4.44 s at 10× store — 1.24× for 10×
  // store growth.
  private[graft] def materializeStore(s: SparkSession, d: String,
      storeDir: String): Long =
    materializeStoreFrom(s, Tables.documents(s, d), storeDir)

  /** A schema-drift observation from [[conformTo]] — the loud half of
    * the mixed-engine evolution story. `dropped` = delta columns
    * beyond the stored schema (an UPGRADED engine advancing a store
    * nobody migrated yet: the advance still lands, but a migration is
    * OWED — without this signal the new column's values silently
    * vanish every night). `nullFilled` = stored columns a recomputed
    * FULL table did not carry (an unaware engine rewriting a
    * migrated table: the migrated column survives schema-stable but
    * its values reset to null — data loss that deserves a signal, not
    * just scaladoc). Null-fills on APPEND deltas are NOT drift — they
    * are the designed forward-compat behavior (the honest value an
    * unaware writer can supply for its new rows).
    */
  private[graft] case class SchemaDrift(table: String,
      dropped: Seq[String], nullFilled: Seq[String]) {
    def describe: String = (if (dropped.nonEmpty)
        s"delta column(s) [${dropped.mkString(", ")}] beyond the stored " +
          "schema DROPPED - a migration is owed (Snapshots.migrate)"
      else "") + (if (nullFilled.nonEmpty)
        s"${if (dropped.nonEmpty) "; " else ""}full rewrite null-fills " +
          s"migrated column(s) [${nullFilled.mkString(", ")}] - migrate " +
          "recomputed-Full tables in lockstep with the engine"
      else "")
  }

  /** Conform a delta frame to its base's STORED schema — the
    * forward-compat half of [[graft.sources.Snapshots.migrate]]'s
    * evolution story, shared by both incremental advancers: an Append
    * layer must match its base's schema exactly (the multi-directory
    * scan is one relation with one schema), so a store migrated
    * forward by an upgraded engine still accepts an advance from an
    * engine UNAWARE of the new column — it fills as a typed null for
    * the delta's rows (the honest value an unaware writer can supply;
    * the upgraded engine emits it for real). Columns the delta has
    * beyond the stored schema are dropped — and LOUDLY signalled via
    * `onDrift` (an upgraded engine advancing an unmigrated store owes
    * a migration; silence here is nightly data loss). A shared column
    * whose type drifted from the stored field's is cast when the cast
    * is provably lossless (`Cast.canUpCast` — e.g. int→long) and
    * REJECTED otherwise: a delta layer with a mismatched parquet type
    * would corrupt or fail the single-schema multi-directory chain
    * scan, and a lossy silent cast is worse. Name resolution uses the
    * session's resolver (case-insensitive under Spark's default), so
    * a delta's `Lang` conforms to a stored `lang` instead of
    * double-landing. With `fullRewrite=true` (recomputed-Full tables)
    * a null-fill is ALSO signalled: there it resets a migrated
    * column's existing values, not just this batch's rows.
    */
  private[graft] def conformTo(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      table: String = "",
      onDrift: SchemaDrift => Unit = d =>
        System.err.println(s"graft store advance [${d.table}]: ${d.describe}"),
      fullRewrite: Boolean = false): DataFrame = {
    val resolve: (String, String) => Boolean =
      df.sparkSession.sessionState.analyzer.resolver
    val dropped = df.columns.toSeq
      .filterNot(c => schema.fields.exists(f => resolve(f.name, c)))
    val nullFilled = schema.fields.toSeq.map(_.name)
      .filterNot(n => df.columns.exists(resolve(_, n)))
    if (dropped.nonEmpty || (fullRewrite && nullFilled.nonEmpty))
      onDrift(SchemaDrift(table, dropped,
        if (fullRewrite) nullFilled else Nil))
    df.select(schema.fields.toSeq.map { f =>
      df.schema.fields.find(a => resolve(a.name, f.name)) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(a) if a.dataType == f.dataType => col(a.name).as(f.name)
        case Some(a) if org.apache.spark.sql.catalyst.expressions.Cast
            .canUpCast(a.dataType, f.dataType) =>
          col(a.name).cast(f.dataType).as(f.name)
        case Some(a) => throw new IllegalArgumentException(
          s"store advance [$table]: delta column ${a.name} has type " +
            s"${a.dataType.simpleString} but the stored schema holds " +
            s"${f.dataType.simpleString}, and the cast is not provably " +
            "lossless - rebuild or migrate the store rather than " +
            "landing a mismatched Append layer")
      }
    }: _*)
  }

  /** One row per doc_id, deterministic winner — the intra-batch guard
    * both store advancers apply before their membership/tombstone
    * anti-joins: an at-least-once source can deliver a new doc's row
    * twice within one trigger, and two rows with one id must collapse
    * to the SAME winner on every replay. The sort is total over the
    * whole row (md5 of the text, then every remaining non-key column in
    * name order): two same-id rows with identical text but differing
    * metadata (source, n_chars) would tie on the text hash alone and
    * hand row_number a nondeterministic winner — replays would not be
    * guaranteed to converge on the same row.
    */
  private def dedupBatchIds(batch: DataFrame): DataFrame = {
    // orderable columns only: a hypothetical map-typed column cannot
    // serve as a sort key and would fail analysis
    val tieBreak = batch.schema.fields.toSeq
      .filter(f => f.name != "doc_id" && f.name != "text" &&
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(f.dataType))
      .map(_.name).sorted.map(col(_))
    val w = Window.partitionBy("doc_id")
      .orderBy(md5(col("text")) +: tieBreak: _*)
    batch.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1).drop("_rk")
  }

  /** The held-out membership convention (doc_id ≡ 0 mod 10) — ONE
    * definition shared by the store writer, the erasure flow
    * ([[graft.sources.Takedown.executeChunks]] re-derives the
    * fingerprint universe when a doomed id is held-out) and the
    * verification layer.
    */
  private[graft] def isHeldOutId(id: Long): Boolean = id % 10L == 0L

  /** Column form of the same convention for the STORE-side writers and
    * gates (materializeStore, pipe3FromStore, testShinglesOf, the
    * takedown trigger). The registry in-plan twins and the dc1/dc2
    * derivations deliberately keep the literal `% 10` — their DuckDB
    * oracle SQL replays the convention textually, so changing it means
    * changing query + oracle together there; THIS helper only keeps the
    * store path's scalar and frame forms in lockstep.
    */
  private[graft] def isHeldOutCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c % 10 === 0

  /** The held-out fingerprint universe of a documents frame — bare
    * shingle hashes, no doc attribution (dc1/dc2's decontamination
    * side). Derivable ONLY from a corpus, which is why erasing a
    * held-out doc means re-deriving this table from the purged corpus.
    */
  private[graft] def testShinglesOf(docsAll: DataFrame): DataFrame =
    Dedup.shingleRowsOf(docsAll.filter(isHeldOutCol(col("doc_id"))))
      .select(xxhash64(col("s")).as("h")).distinct()

  /** Read one pack-store table at the committed latest (or a pinned)
    * snapshot version — every store consumer goes through here so the
    * versioned layout stays in one place.
    */
  private[graft] def storeTable(s: SparkSession, storeDir: String,
      name: String, version: Option[Long] = None): DataFrame =
    graft.sources.Snapshots.readTable(s, storeDir, name, version)

  /** [[materializeStore]] over an explicit documents frame — the form
    * the erasure spec uses to build the from-scratch reference store on
    * a PURGED corpus ([[graft.sources.Takedown.executeChunks]]'s
    * bit-equality pin), and what a maintained warehouse would call with
    * its catalog table's current state.
    *
    * Since r15 the six store tables commit as ONE atomic
    * [[graft.sources.Snapshots.writeTables]] version (single version
    * claim + pointer flip): a reader never sees a half-written store, a
    * crashed write leaves the previous version fully readable, and the
    * erasure flow's store rewrite inherits the same guarantee — the
    * flat-directory crash window the r14 scaladoc documented is closed
    * with the machinery pipe6's RAG index already publishes through.
    * Returns the committed version.
    */
  private[graft] def materializeStoreFrom(s: SparkSession, docsAll: DataFrame,
      storeDir: String): Long = {
    val nWords = size(split(col("text"), " ")).cast("long")
    val nAlpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
    val gated = docsAll
      .filter(nWords >= 10L && nAlpha * 2L > col("n_chars"))
      .filter(!isHeldOutCol(col("doc_id")))
    materializeStoreOver(s, gated.filter(col("doc_id") % 7 =!= 3),
      docsAll, storeDir)
  }

  /** [[materializeStoreFrom]] with an EXPLICIT store-membership frame —
    * the reference builder for [[advanceStore]]'s equality pin, where
    * "the store" is last night's store plus tonight's accepted batch
    * rather than the static doc_id % 7 convention.
    */
  private[graft] def materializeStoreOver(s: SparkSession, store: DataFrame,
      docsAll: DataFrame, storeDir: String): Long = {
    val nWords = size(split(col("text"), " ")).cast("long")
    val hkey = graft.functions.VectorFunctions.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":42")))
    // (a) band index, store-bucket cap applied AT WRITE (pipe3 stage 3's
    // guard — an over-full bucket never reaches any future nightly run),
    // plus (g) the CAPPED-BUCKET REGISTRY: the (band, key) pairs whose
    // rows were dropped. Request-small, and what lets the incremental
    // [[advanceStore]] stay bit-equal to a from-scratch build — a batch
    // doc landing in a dropped bucket must also drop, and without the
    // registry the advance cannot know the bucket ever existed.
    val wBucket = Window.partitionBy("band", "key")
    val counted = Dedup.bandFrameOf(store)
      .select(col("doc_id"), col("band"), col("key"))
      .withColumn("sb", count(lit(1)).over(wBucket))
      .localCheckpoint() // 2 consumers: kept rows + the capped registry
    val bands = counted.filter(col("sb") <= pipe3MaxStoreBucket)
      .select("doc_id", "band", "key")
    val capped = counted.filter(col("sb") > pipe3MaxStoreBucket)
      .select("band", "key").distinct()
    // (b) per-doc sorted shingle-hash signatures (dd11's stored side)
    val shingles = Dedup.shingleRowsOf(store)
      .select(col("doc_id"), xxhash64(col("s")).as("h")).distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("h"))).as("hs"), count(lit(1)).as("n"))
    // (e) token-offset manifest — pinned once: cursors (d) and open
    // starts (f) derive from it, and writeTables evaluates each frame
    val wSh = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    val smang = store
      .select(col("doc_id"), nWords.as("n_tokens"))
      .withColumn("hkey", hkey)
      .withColumn("shard", pmod(col("hkey"), lit(8L)))
      .withColumn("start_off",
        coalesce(sum(col("n_tokens"))
          .over(wSh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .localCheckpoint()
    try
      graft.sources.CommitLock.withLock(s, storeDir) {
      graft.sources.Snapshots.writeTables(Seq(
        "store_bands" -> bands,
        "store_capped" -> capped,
        // (h) the TOMBSTONE registry — doc_ids erased by a takedown
        // ([[graft.sources.Takedown.executeChunks]] adds them), which
        // [[advanceStore]] refuses to re-admit: an at-least-once
        // trigger REPLAYING pre-takedown input files would otherwise
        // resurrect an erased doc, and the manifest membership guard
        // cannot catch it (the purged id is absent, so it looks
        // fresh). Empty at bootstrap; re-admitting a legitimately
        // returning id is an explicit operator edit of this table,
        // never an ingest side effect.
        "store_tombstones" -> s.range(0).select(col("id").as("doc_id")),
        "store_shingles" -> shingles,
        // (c) held-out fingerprint universe
        "test_shingles" -> testShinglesOf(docsAll),
        // (d) per-shard append cursors + the per-shard max doc length
        // (max_tok bounds the boundary prefilter below — see
        // pipe5FromStore)
        "store_totals" -> smang.groupBy("shard")
          .agg(count(lit(1)).as("cnt0"), sum("n_tokens").as("tot0"),
            max("n_tokens").as("max_tok")),
        // the manifest lands SORTED by start_off within each shard's
        // files so parquet row-group min/max stats make the boundary
        // prefilter a tail read, not a table scan
        "store_manifest" -> smang.repartitionByRange(col("shard"), col("start_off"))
          .sortWithinPartitions("shard", "start_off"),
        // (f) open-chunk starts
        "store_opens" -> smang.groupBy("shard")
          .agg((expr(s"sum(n_tokens) div ${packBudget}L") * packBudget)
            .as("open_start"))), storeDir)
      }
    finally {
      smang.unpersist(blocking = false)
      counted.unpersist(blocking = false)
    }
  }

  /** Band-index ADVANCE under the store-bucket cap — the pure frame
    * function [[advanceStore]] uses, factored so the cap algebra is
    * spec-testable without MinHash collisions (AdvanceStoreSpec drives
    * it with constructed band frames). Given the stored kept rows, the
    * stored capped-bucket registry, and the accepted batch's band rows,
    * returns (kept', capped') EXACTLY equal to a from-scratch build over
    * the combined membership:
    *
    *  - a bucket in the registry swallows its batch rows (its true
    *    count already exceeded the cap and buckets only grow);
    *  - an uncapped bucket has ALL its rows stored, so stored + batch
    *    is its true combined count — if that crosses the cap the WHOLE
    *    bucket (stored rows included) drops and the bucket enters the
    *    registry;
    *  - everything else unions through.
    *
    * Cost: the count aggregation is restricted to buckets the batch
    * touches (semi join on the batch's request-small key set) — the
    * stored index is never re-counted wholesale.
    */
  private[graft] def advanceBands(oldBands: DataFrame, oldCapped: DataFrame,
      accBands: DataFrame): (DataFrame, DataFrame) = {
    val (overNew, accKept) = advanceBandsDelta(oldBands, oldCapped, accBands)
    val capped = oldCapped.unionByName(
      overNew.join(oldCapped, Seq("band", "key"), "left_anti")).distinct()
    // old rows in a capped bucket drop (the newly-tipped case; a stored
    // row in an oldCapped bucket cannot exist by the write invariant,
    // but the anti-join against the FULL registry keeps the algebra
    // total); accKept is already anti both registries
    val kept = oldBands.join(capped, Seq("band", "key"), "left_anti")
      .select("doc_id", "band", "key")
      .unionByName(accKept)
    (kept, capped)
  }

  /** The DELTA half of [[advanceBands]]' algebra: (newly-capped buckets,
    * batch rows that survive both registries). When the first frame is
    * EMPTY the stored band index is untouched by the advance and the
    * second IS the whole change — the batch-sized
    * [[graft.sources.Snapshots.Append]] commit [[advanceStore]] makes on
    * the common night (a bucket crossing the cap forces the rare full
    * rewrite, since stored rows must then disappear).
    */
  private[graft] def advanceBandsDelta(oldBands: DataFrame,
      oldCapped: DataFrame, accBands: DataFrame): (DataFrame, DataFrame) = {
    val acc = accBands.select("doc_id", "band", "key")
    val touched = acc.select("band", "key").distinct()
    // combined count per TOUCHED, previously-uncapped bucket
    val overNew = oldBands.join(touched, Seq("band", "key"), "left_semi")
      .select("band", "key")
      .unionByName(acc.join(oldCapped, Seq("band", "key"), "left_anti")
        .select("band", "key"))
      .groupBy("band", "key").agg(count(lit(1)).as("sb"))
      .filter(col("sb") > pipe3MaxStoreBucket)
      .select("band", "key")
    val accKept = acc.join(oldCapped, Seq("band", "key"), "left_anti")
      .join(overNew, Seq("band", "key"), "left_anti")
      .select("doc_id", "band", "key")
    (overNew, accKept)
  }

  /** NIGHTLY STORE ADVANCE — the third store writer the versioned
    * layout needed (materializeStore = the bootstrap, executeChunks'
    * rewrite = the erasure path, this = what a production nightly run
    * commits so TOMORROW's [[pipe3ManifestFromStore]]/[[pipe5FromStore]]
    * see tonight's accepted docs as part of the store). Runs tonight's
    * batch through the stored gates (pipe3FromStore — the accepted
    * manifest rows ARE the advance's delta), then commits the next
    * snapshot version:
    *
    *  - manifest: stored rows ∪ the accepted rows (their offsets
    *    already chain from the stored cursors — append-only, nothing
    *    written ever shifts);
    *  - totals/opens: 8-row outer-join increments, never a store scan;
    *  - bands/capped: [[advanceBands]] — bit-equal to from-scratch
    *    under the cap;
    *  - shingles: union of the accepted docs' signatures;
    *  - test_shingles: carried (the held-out universe is corpus-static
    *    by the % 10 convention; a real holdout refresh re-derives via
    *    [[testShinglesOf]]).
    *
    * Bit-equality contract (AdvanceStoreSpec): every order-independent
    * table equals a from-scratch [[materializeStoreOver]] on the
    * combined membership, row for row; the manifest intentionally does
    * NOT — its append-chained offsets are the point (a from-scratch
    * build would re-interleave by (hkey, doc_id) and shift every offset
    * after the first insertion; Pipe3Spec pins the append contract).
    * Idempotence: re-running the same night against the advanced store
    * accepts nothing (every accepted doc now sits in the band index and
    * fuzzy-gates its own replay out), so a second advance is a no-op
    * version whose delta is empty — the spec pins exactly that.
    *
    * Scale: the COMPUTE is batch-sized (the gates are pipe3FromStore's,
    * the band count is touched-bucket-only, totals are 8 rows) — and
    * since the layered-snapshot commit, so is the WRITE: manifest/
    * shingles/bands land as [[graft.sources.Snapshots.Append]] deltas
    * over v0, test_shingles (and, on the common no-tipped-bucket night,
    * the capped registry) as [[graft.sources.Snapshots.Carry]] refs,
    * and only the 8-row totals/opens write Full — the "cost of
    * full-version atomicity" the earlier layout paid (a full store
    * re-emit per night) is gone while the one-claim-one-flip atomicity
    * contract is unchanged. MEASURED (ScaleProbe `prod:pipe5` advance
    * arm, last at commit 561c6b9; warm,
    * second capture on a settled machine): 5.83 s at 1× (sf0.1 store)
    * vs 5.63 s at 10× store history — flat, and ~1.3× under the
    * full-version commit it replaces (7.45/7.43 s on the same probe);
    * with the tombstone guard added the capture reads 6.54/6.19 s —
    * still flat, the guard a fixed request-small anti-join; r16 folds
    * the tombstone + membership guards into ONE anti-join against the
    * unioned guard frame (one batch shuffle, not two — a same-session
    * capture on a ~1.5×-drifted host reads 8.82/8.63 s against
    * same-host baselines of rederive 7.86 / fromstore 5.10 s, the
    * advance-to-fromstore ratio improving 1.82→1.73 and flatness in
    * store size unchanged). The modest
    * wall-clock delta at this sf is honest: the batch GATES dominate
    * (the fromstore arm alone runs ~3.5–4.3 s), so the eliminated term
    * is small here — what matters at 100 TB is its SHAPE, O(batch)
    * written bytes instead of O(store) per night.
    * Retention: one version accretes per non-empty night, and an Append
    * chain pins its history against vacuum —
    * [[graft.sources.Snapshots.vacuum]] with the training-lineage
    * window plus a periodic [[graft.sources.Snapshots.compactLatest]]
    * (chain cut) is the bound. Returns the committed version (the prior
    * version when the delta is empty — no empty commits).
    */
  /** One "warn" run-log row per drifted table of an advance — the
    * observable form of [[SchemaDrift]] (stderr alone is not a
    * queryable signal; the owed-migration condition must be visible
    * next to the run history it taints). No-op without a run-log path
    * or without drift.
    */
  private[graft] def logDrifts(s: SparkSession, runLogPath: Option[String],
      pipeline: String, drifts: Seq[SchemaDrift]): Unit =
    runLogPath.filter(_ => drifts.nonEmpty).foreach { p =>
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      val now = System.nanoTime()
      graft.sources.RunLog.append(s, p, drifts.map(d =>
        graft.sources.RunLog.entry(ts, pipeline, s"schema_drift:${d.table}",
          (d.dropped.size + d.nullFilled.size).toLong, now, "warn",
          d.describe)).toSeq)
    }

  private[graft] def advanceStore(s: SparkSession, d: String,
      storeDir: String, runLogPath: Option[String] = None): Long =
    advanceStoreOver(s,
      Tables.documents(s, d).filter(col("doc_id") % 7 === 3), storeDir,
      runLogPath)

  /** [[advanceStore]] over an EXPLICIT batch frame — what
    * [[graft.streaming.Streams.streamingStoreAdvance]] calls per
    * micro-batch. Idempotent under trigger REPLAY at the ID grain by
    * the manifest membership guard (a doc id already in the stored
    * manifest never re-enters — load-bearing for the capped-bucket
    * corner, where the fuzzy gate has no stored candidates to catch a
    * replay with), and at the CONTENT grain by the fuzzy gate for
    * same-text-new-id arrivals; an all-replayed batch's delta is empty
    * and no new version commits (StreamingStoreAdvanceSpec +
    * AdvanceStoreSpec pin both grains).
    */
  private[graft] def advanceStoreOver(s: SparkSession, batchRaw: DataFrame,
      storeDir: String, runLogPath: Option[String] = None): Long =
    // the advance runs under the STORE ROOT's commit lease: a takedown
    // rewrite (executeChunks holds the same lease) landing between this
    // read of v0 and the commit of v0 ∪ batch would otherwise be
    // silently undone — the erased docs' rows resurrected at latest
    graft.sources.CommitLock.withLock(s, storeDir) {
      advanceStoreLocked(s, batchRaw, storeDir, runLogPath)
    }

  private def advanceStoreLocked(s: SparkSession, batchRaw: DataFrame,
      storeDir: String, runLogPath: Option[String]): Long = {
    val drifts = scala.collection.mutable.Buffer[SchemaDrift]()
    val onDrift: SchemaDrift => Unit = dr => {
      drifts += dr
      System.err.println(s"graft store advance [${dr.table}]: ${dr.describe}")
    }
    val v0 = graft.sources.Snapshots.latestVersion(s, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed pack store under $storeDir"))
    def stored(t: String) = storeTable(s, storeDir, t, Some(v0))
    // UPGRADE tolerance: a store published before the tombstone
    // registry existed reads as an empty registry, and this advance
    // INTRODUCES the table (Full-empty) instead of carrying — a
    // 100 TB store must not need a re-materialization to keep
    // ingesting (or to honor its first deletion request)
    val hasTomb = graft.sources.Snapshots.tableNames(s, storeDir, v0)
      .contains("store_tombstones")
    def storedTombstones(): DataFrame =
      if (hasTomb) stored("store_tombstones")
      else s.range(0).select(col("id").as("doc_id"))
    // INTRA-BATCH id dedup first: an at-least-once source can deliver
    // a NEW doc's row twice within one trigger (two input files, same
    // doc_id) — neither membership nor content gates can catch two
    // identical-id rows arriving together if their text differs, and
    // duplicate ids would double-count cursors. Deterministic winner
    // (min text hash), so replays converge.
    // Then the TOMBSTONE GUARD: a doc id a takedown erased must never
    // re-enter via an at-least-once REPLAY of pre-takedown input files
    // — the membership guard below cannot catch it (the purged id is
    // absent from the manifest, so it looks fresh). One column-pruned
    // scan of the request-small registry.
    // Then the MEMBERSHIP GUARD before the gates: a doc id already in
    // the stored manifest must never re-enter, whatever the gates say —
    // the fuzzy gate alone cannot guarantee it, because a doc whose
    // every band bucket is CAPPED has no stored candidates to collide
    // with (the >cap mass-near-duplicate corner), and a replayed
    // trigger would re-accept it: duplicate manifest rows,
    // double-counted cursors. Both guards are id anti-joins, so they
    // fold into ONE join against the unioned guard frame (registry ∪
    // manifest ids — one shuffle of the batch instead of two; the
    // union adds no shuffle of its own, its sides just feed the join).
    // The guard runs BEFORE the cursor-chaining stage so surviving
    // rows keep contiguous offsets; cost is purgeKeys' discovery
    // economics.
    val guardIds = storedTombstones().select("doc_id")
      .unionByName(stored("store_manifest").select("doc_id"))
    val batchFresh = dedupBatchIds(batchRaw)
      .join(guardIds, Seq("doc_id"), "left_anti")
    // the delta derivation pins the SAME v0 the union bases read
    val acc = pipe3ManifestFromStoreOver(s, batchFresh, storeDir, Some(v0))
      .localCheckpoint()
    try {
      if (acc.isEmpty) return v0
      import graft.sources.Snapshots.{Append, Carry, Full, TableSpec}
      val accDocs = batchFresh
        .join(acc.select("doc_id"), Seq("doc_id"), "left_semi")
      val accB = Dedup.bandFrameOf(accDocs).select("doc_id", "band", "key")
      // the band index advances as a batch-sized DELTA on the common
      // night (no bucket newly crosses the cap — overNew empty): stored
      // rows are untouched, so the commit appends accKept over v0 and
      // carries the registry. A tipped bucket forces the rare full
      // rewrite, because its STORED rows must disappear.
      val (overNew0, _) = advanceBandsDelta(stored("store_bands"),
        stored("store_capped"), accB)
      val overNew = overNew0.localCheckpoint() // request-small: decides the path
      // accKept rebuilt against the PINNED overNew so no consumer —
      // Append delta or full rewrite — re-runs the touched-bucket
      // count embedded in advanceBandsDelta's second frame
      val accKept = accB
        .join(stored("store_capped"), Seq("band", "key"), "left_anti")
        .join(overNew, Seq("band", "key"), "left_anti")
        .select("doc_id", "band", "key")
      try {
        val (bandsSpec, cappedSpec): (TableSpec, TableSpec) =
          if (overNew.isEmpty) (Append(v0, accKept), Carry(v0))
          else {
            // the rare full rewrite, from the ALREADY-computed (and
            // checkpointed) delta — exactly advanceBands' tail algebra
            // (kept = old anti capped ∪ accKept), without re-running
            // the touched-bucket count against the stored index
            val capped = stored("store_capped").unionByName(
              overNew.join(stored("store_capped"), Seq("band", "key"),
                "left_anti")).distinct()
            val kept = stored("store_bands")
              .join(capped, Seq("band", "key"), "left_anti")
              .select("doc_id", "band", "key")
              .unionByName(accKept)
            (Full(kept), Full(capped))
          }
        val shinglesDelta = Dedup.shingleRowsOf(accDocs)
          .select(col("doc_id"), xxhash64(col("s")).as("h")).distinct()
          .groupBy("doc_id")
          .agg(sort_array(collect_set(col("h"))).as("hs"),
            count(lit(1)).as("n"))
        val hkey = graft.functions.VectorFunctions.md5Prefix60(
          concat(col("doc_id").cast("string"), lit(":42")))
        // the delta takes the STORED manifest's schema, not this
        // engine's ([[conformTo]]): a store migrated forward still
        // advances, the unknown column null-filled for new rows.
        // acc is pre-selected to the columns THIS ENGINE'S manifest
        // writes ([[materializeStoreOver]]'s smang) so the derivation's
        // intermediates (source, pos, ...) drop by design without
        // reading as owed-migration drift — conformTo then signals
        // only a genuine engine-vs-store schema gap
        val manDelta = conformTo(
          acc.withColumn("hkey", hkey)
            .select("doc_id", "n_tokens", "hkey", "shard", "start_off"),
          stored("store_manifest").schema, "store_manifest", onDrift)
        // the manifest delta still lands (shard, start_off)-sorted so
        // its FILES carry prunable row-group stats for the boundary
        // scan — sorting is batch-sized now
        val manDeltaSorted = manDelta
          .repartitionByRange(col("shard"), col("start_off"))
          .sortWithinPartitions("shard", "start_off")
        val deltas = acc.groupBy("shard")
          .agg(count(lit(1)).as("dc"), sum("n_tokens").as("dt"),
            max("n_tokens").as("dm"))
        val totals = stored("store_totals")
          .join(deltas, Seq("shard"), "full_outer")
          .select(col("shard"),
            (coalesce(col("cnt0"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("cnt0"),
            (coalesce(col("tot0"), lit(0L)) + coalesce(col("dt"), lit(0L))).as("tot0"),
            // max over a union = max of the two maxes — order-independent,
            // so still bit-equal to from-scratch
            greatest(coalesce(col("max_tok"), lit(0L)),
              coalesce(col("dm"), lit(0L))).as("max_tok"))
          .localCheckpoint() // 2 consumers: totals table + opens
        try {
          // recomputed-Full tables conform to the STORED schema too —
          // a migrated column survives the nightly rewrite
          // (schema-stable, null-filled) instead of silently
          // vanishing, and the null-fill itself is signalled as drift
          val v = graft.sources.Snapshots.writeTablesSpec(s, Seq(
            "store_bands" -> bandsSpec,
            "store_capped" -> cappedSpec,
            "store_tombstones" -> (if (hasTomb) Carry(v0)
              else Full(storedTombstones()): TableSpec),
            "store_shingles" -> (Append(v0, shinglesDelta): TableSpec),
            "test_shingles" -> Carry(v0),
            "store_totals" -> Full(conformTo(totals,
              stored("store_totals").schema, "store_totals", onDrift,
              fullRewrite = true)),
            "store_manifest" -> Append(v0, manDeltaSorted),
            "store_opens" -> Full(conformTo(
              totals.select(col("shard"),
                (expr(s"tot0 div ${packBudget}L") * packBudget).as("open_start")),
              stored("store_opens").schema, "store_opens", onDrift,
              fullRewrite = true))),
            storeDir)
          logDrifts(s, runLogPath, "pack_store_advance", drifts.toSeq)
          v
        } finally totals.unpersist(blocking = false)
      } finally overNew.unpersist(blocking = false)
    } finally acc.unpersist(blocking = false)
  }

  /** pipe3's five stages reading the materialized store: only the BATCH
    * is gated, deduped, shingled and signed; the store contributes its
    * parquet band index (candidate join), signature table (verify,
    * candidate oids only via semi join), fingerprint universe
    * (decontamination) and append cursors (8 broadcast rows). Per-run
    * cost is O(batch · bucketDegree) with NO store-sized derivation in
    * the plan.
    */
  private[graft] def pipe3ManifestFromStore(s: SparkSession, d: String,
      storeDir: String, version: Option[Long] = None): DataFrame =
    pipe3ManifestFromStoreOver(s,
      Tables.documents(s, d).filter(col("doc_id") % 7 === 3), storeDir,
      version)

  /** [[pipe3ManifestFromStore]] over an EXPLICIT batch frame — the form
    * the streaming advance feeds one micro-batch at a time (membership
    * IS the stream there, not the doc_id % 7 convention). The quality
    * gate and the held-out exclusion still apply to every batch:
    * garbage and holdout docs must never enter the store regardless of
    * how the batch arrived.
    */
  private[graft] def pipe3ManifestFromStoreOver(s: SparkSession,
      batchRaw: DataFrame, storeDir: String,
      version: Option[Long] = None): DataFrame = {
    // resolve the store version ONCE: every stage must read the same
    // snapshot (per-read pointer resolution could mix two versions if
    // a publish lands mid-plan), and advanceStore pins its own v0 here
    val pin = version.orElse(graft.sources.Snapshots.latestVersion(s, storeDir))
    def st(t: String): DataFrame = storeTable(s, storeDir, t, pin)
    val nWords = size(split(col("text"), " ")).cast("long")
    val nAlpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
    // stage 1 — quality gate, batch rows only
    val batch = batchRaw
      .filter(nWords >= 10L && nAlpha * 2L > col("n_chars"))
      .filter(!isHeldOutCol(col("doc_id")))
    // stage 2 — within-batch exact dedup
    val wTh = Window.partitionBy("th").orderBy("doc_id")
    val bdd = batch
      .withColumn("th", md5(col("text")))
      .withColumn("rk", row_number().over(wTh))
      .filter(col("rk") === 1).drop("th", "rk")
    // stage 3 — fuzzy gate vs the STORED band index (the cap was applied
    // at write time; batch-side signatures are the only MinHash work)
    val sBand = st("store_bands")
    val cand = Dedup.bandFrameOf(bdd)
        .select(col("doc_id").as("nid"), col("band"), col("key"))
      .join(sBand.select(col("doc_id").as("oid"), col("band"), col("key")),
        Seq("band", "key"))
      .select("nid", "oid").distinct()
      .localCheckpoint()
    val hsB = Dedup.shingleRowsOf(bdd)
      .join(cand.select(col("nid").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), xxhash64(col("s")).as("h")).distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("h"))).as("hs"), count(lit(1)).as("n"))
    val hsS = st("store_shingles")
      .join(cand.select(col("oid").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    val dupNids = cand
      .join(hsB.select(col("doc_id").as("nid"), col("hs").as("ha"), col("n").as("na")), "nid")
      .join(hsS.select(col("doc_id").as("oid"), col("hs").as("hb"), col("n").as("nb")), "oid")
      .withColumn("common",
        graft.functions.VectorFunctions.intersectCountSorted(col("ha"), col("hb")))
      .filter(col("common") * 10L >= (col("na") + col("nb") - col("common")) * 8L)
      .select(col("nid").as("doc_id")).distinct()
    val fresh = bdd.join(dupNids, Seq("doc_id"), "left_anti")
    // stage 4 — decontamination vs the stored fingerprint universe
    val testSh = st("test_shingles")
    val fsh = Dedup.shingleRowsOf(fresh)
      .select(col("doc_id"), xxhash64(col("s")).as("h")).distinct()
    val ctot = fsh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val cshr = fsh.join(testSh, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val acc = fresh.select(col("doc_id"), col("source"), nWords.as("n_tokens"))
      .join(ctot, "doc_id")
      .join(cshr, Seq("doc_id"), "left")
      .filter(coalesce(col("n_shared"), lit(0L)) * 5L < col("n_shingles"))
      .select("doc_id", "source", "n_tokens")
    // stage 5 — append from the stored cursors
    val hkey = graft.functions.VectorFunctions.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":42")))
    val stored = st("store_totals")
    val wSh = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    acc.withColumn("hkey", hkey)
      .withColumn("shard", pmod(col("hkey"), lit(8L)))
      .join(broadcast(stored), Seq("shard"), "left")
      .withColumn("pos",
        coalesce(col("cnt0"), lit(0L)) + row_number().over(wSh).cast("long") - 1L)
      .withColumn("start_off", coalesce(col("tot0"), lit(0L)) +
        coalesce(sum(col("n_tokens"))
          .over(wSh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("doc_id", "source", "n_tokens", "shard", "pos", "start_off")
  }

  /** pipe5 reading the materialized store: the stored manifest is
    * touched only by the boundary filter, and since r15 that read is
    * PRUNED — [[boundaryScan]] pushes literal (shard, start_off)
    * predicates derived from the bounded stored stats into the
    * start_off-sorted manifest scan, so parquet row-group min/max
    * stats confine it to each shard's tail (the "a real table format
    * would prune this" note made real in plain parquet;
    * Pipe5FromStoreSpec asserts the pushdown in the plan). The open
    * starts are 8 stored rows; everything else is batch-sized.
    * Output = pipe5's, bit-for-bit.
    */
  private[graft] def pipe5FromStore(s: SparkSession, d: String,
      storeDir: String): DataFrame = {
    // one pinned version for the whole plan (see pipe3ManifestFromStore)
    val pin = graft.sources.Snapshots.latestVersion(s, storeDir)
    val smang = storeTable(s, storeDir, "store_manifest", pin)
    val opens = storeTable(s, storeDir, "store_opens", pin)
    val man = pipe3ManifestFromStore(s, d, storeDir, pin)
      .select("shard", "doc_id", "start_off", "n_tokens")
      .localCheckpoint() // feeds touched-shards, tokens, and spans
    val touched = man.select("shard").distinct()
    val bnd = boundaryScan(s, storeDir, pin).join(broadcast(opens), "shard")
      .filter(col("start_off") + col("n_tokens") > col("open_start"))
      .join(broadcast(touched), Seq("shard"), "left_semi")
      .select("shard", "doc_id", "start_off", "n_tokens")
    val uni5 = bnd.unionByName(man)
      .join(broadcast(opens), Seq("shard"), "left")
      .withColumn("open_start", coalesce(col("open_start"), lit(0L)))
    shardChunksOf(uni5, Tables.documents(s, d)).orderBy("shard", "chunk_id")
  }

  /** The manifest BOUNDARY SCAN with its literal prefilter — factored
    * from [[pipe5FromStore]] so the pushdown is plan-assertable
    * (Pipe5FromStoreSpec; the final pipe5 plan hides this scan behind
    * shardChunksOf's checkpoint). A doc can only straddle its shard's
    * open chunk if start_off > open_start − max_tok(shard) (n_tokens ≤
    * max_tok by definition), and both sides are bounded stored stats
    * (8 rows each) — with the manifest sorted by start_off within each
    * shard's files, the literal OR-of-ANDs prunes the scan to each
    * shard's tail ROW GROUPS, removing the one store-sized read the
    * pipe5 plan had left. pipe5FromStore's exact span filter
    * re-restricts; this prefilter is a provable superset.
    */
  private[graft] def boundaryScan(s: SparkSession, storeDir: String,
      pin: Option[Long]): DataFrame = {
    val openBy = storeTable(s, storeDir, "store_opens", pin).collect()
      .map(r => r.getAs[Long]("shard") -> r.getAs[Long]("open_start")).toMap
    val maxTokBy = storeTable(s, storeDir, "store_totals", pin)
      .select("shard", "max_tok").collect()
      .map(r => r.getAs[Long]("shard") -> r.getAs[Long]("max_tok")).toMap
    val pre = openBy.toSeq.map { case (sh, open) =>
      col("shard") === sh &&
        col("start_off") > open - maxTokBy.getOrElse(sh, Long.MaxValue)
    }.reduceOption(_ || _).getOrElse(lit(false))
    storeTable(s, storeDir, "store_manifest", pin).filter(pre)
  }

  /** The chunk MATERIALIZATION shared by every shard-grain packer —
    * pipe5, its from-store twin, and the takedown rebuild
    * ([[graft.sources.Takedown.executeChunks]]): given a layout frame
    * `uni5` (shard, doc_id, start_off, n_tokens, open_start — one row
    * per doc whose span may reach at or past its shard's emit floor
    * `open_start`) and the documents frame for token text, emit one row
    * per (shard, chunk_id ≥ open_start div B) — pk2's digest convention
    * + pk3's span offsets at the shard-local grain, `is_full` marking
    * chunks that will never be rewritten again. ONE authoritative copy
    * of the chunk/span formulas so the incremental path and the erasure
    * rebuild can never drift from each other.
    *
    * Scale: the only token-grain shuffle is the regroup of the emitted
    * tokens by (shard, chunk_id) — O(rows-of-uni5 tokens), never the
    * store; spans ride the narrow layout frame; the chunks⋈spans join
    * reuses the aggregates' (shard, chunk_id) partitioning.
    */
  private[graft] def shardChunksOf(uni5in: DataFrame,
      docs: DataFrame): DataFrame = {
    val uni5 = uni5in
      .localCheckpoint() // 2 consumers: token emission + span table
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val chunks = uni5.join(toks, "doc_id")
      .select(col("shard"), col("doc_id"), col("start_off"), col("open_start"),
        posexplode(col("toks")).as(Seq("j", "tok")))
      .withColumn("pos", col("start_off") + col("j"))
      .filter(col("pos") >= col("open_start"))
      .withColumn("chunk_id", expr(s"pos div ${packBudget}L"))
      .groupBy("shard", "chunk_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        collect_set(col("doc_id")).as("doc_set"),
        md5(array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")),
          " ")).as("chunk_md5"))
      .select(col("shard"), col("chunk_id"), col("n_tokens"),
        size(col("doc_set")).cast("long").as("n_docs"), col("chunk_md5"))
    val spans = uni5
      .select(col("shard"), col("start_off"),
        explode(sequence(
          greatest(expr(s"start_off div ${packBudget}L"),
            expr(s"open_start div ${packBudget}L")),
          expr(s"(start_off + n_tokens - 1) div ${packBudget}L")))
          .as("chunk_id"))
      .select(col("shard"), col("chunk_id"),
        (greatest(col("start_off"), col("chunk_id") * packBudget) -
          col("chunk_id") * packBudget).as("rel"))
      .groupBy("shard", "chunk_id")
      .agg(count(lit(1)).as("n_seqs"),
        array_join(sort_array(collect_list(col("rel"))), ",").as("seq_starts_csv"))
    chunks.join(spans, Seq("shard", "chunk_id"))
      .withColumn("is_full", col("n_tokens") === packBudget)
  }

  private val pipe5Sql = materializeCtes(
    s"""WITH
       |$pipe3SqlCtes,
       |smang AS (SELECT doc_id, n_tokens, CAST(hkey % 8 AS BIGINT) AS shard,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY hkey % 8
       |      ORDER BY hkey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM (SELECT doc_id, n_tokens,
       |      ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
       |        AS hkey
       |    FROM g WHERE doc_id % 7 <> 3)),
       |opens AS (SELECT shard,
       |    CAST(SUM(n_tokens) // $packBudget * $packBudget AS BIGINT) AS open_start
       |  FROM smang GROUP BY 1),
       |touched AS (SELECT DISTINCT shard FROM man),
       |bnd AS (SELECT m.shard, m.doc_id, m.start_off, m.n_tokens
       |  FROM smang m JOIN opens o USING (shard) JOIN touched t USING (shard)
       |  WHERE m.start_off + m.n_tokens > o.open_start),
       |uni5 AS (SELECT shard, doc_id, start_off, n_tokens FROM bnd
       |  UNION ALL SELECT shard, doc_id, start_off, n_tokens FROM man),
       |u5o AS (SELECT u.*, COALESCE(o.open_start, 0) AS open_start
       |  FROM uni5 u LEFT JOIN opens o USING (shard)),
       |mtx5 AS (SELECT u.shard, u.doc_id, u.start_off, u.open_start, u.n_tokens,
       |    string_split(d.text, ' ') AS toks
       |  FROM u5o u JOIN documents d USING (doc_id)),
       |etok5 AS (SELECT shard, doc_id, start_off + u.i - 1 AS pos, toks[u.i] AS tok,
       |    open_start
       |  FROM mtx5, UNNEST(generate_series(1, CAST(n_tokens AS INT))) u(i)),
       |chk5 AS (SELECT shard, pos // $packBudget AS chunk_id, COUNT(*) AS n_tokens,
       |    COUNT(DISTINCT doc_id) AS n_docs,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
       |  FROM etok5 WHERE pos >= open_start GROUP BY 1, 2),
       |sp5 AS (SELECT shard, CAST(u2.c AS BIGINT) AS chunk_id,
       |    GREATEST(start_off, u2.c * $packBudget) - u2.c * $packBudget AS rel
       |  FROM u5o, UNNEST(generate_series(
       |    CAST(GREATEST(start_off // $packBudget, open_start // $packBudget) AS INT),
       |    CAST((start_off + n_tokens - 1) // $packBudget AS INT))) u2(c)),
       |spn5 AS (SELECT shard, chunk_id, COUNT(*) AS n_seqs,
       |    string_agg(CAST(rel AS VARCHAR), ',' ORDER BY rel) AS seq_starts_csv
       |  FROM sp5 GROUP BY 1, 2)
       |SELECT c.shard, c.chunk_id, c.n_tokens, c.n_docs, c.chunk_md5,
       |  s.n_seqs, s.seq_starts_csv, c.n_tokens = $packBudget AS is_full
       |FROM chk5 c JOIN spn5 s USING (shard, chunk_id)
       |ORDER BY shard, chunk_id""".stripMargin)

  // ---------------------------------------------------------------------
  // cur1_curriculum — curriculum-ordered training schedule: docs are
  // binned easy→hard by FIXED length thresholds (threshold bins, not
  // global quantiles — a global ntile would need a single-partition
  // window; fixed cutoffs are map-only, scale-free, and what production
  // curricula use so the schedule is stable across corpus growth), then
  // deterministically shuffled WITHIN each difficulty stage with pk4's
  // seeded portable hash. Global training order = (stage, pos) lexical —
  // short fluent docs first, long-tail docs last, reproducible on any
  // cluster size and replayable bit-for-bit by the oracle.
  //
  // Scale: one shuffle (the stage-partitioned window); stages are few
  // and balanced by construction of the cutoffs, and a skewed stage
  // degrades to pk4's per-shard sort, not a global one.
  private def cur1Curriculum(s: SparkSession, d: String): DataFrame = {
    val seed = 7
    val hh = graft.functions.VectorFunctions.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":"), lit(seed)))
    val stage = when(col("n_chars") < 180, 0L)
      .when(col("n_chars") < 310, 1L)
      .when(col("n_chars") < 420, 2L)
      .otherwise(3L)
    val w = Window.partitionBy("stage").orderBy("hkey", "doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("stage", stage)
      .withColumn("hkey", hh)
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .select(col("doc_id"), col("stage"), col("pos"))
      .orderBy("stage", "pos")
  }

  private val cur1Sql =
    """WITH b AS (SELECT doc_id,
      |    CASE WHEN n_chars < 180 THEN 0
      |         WHEN n_chars < 310 THEN 1
      |         WHEN n_chars < 420 THEN 2 ELSE 3 END AS stage,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT
      |      AS hkey
      |  FROM documents)
      |SELECT doc_id, CAST(stage AS BIGINT) AS stage,
      |  CAST(row_number() OVER (PARTITION BY stage ORDER BY hkey, doc_id) - 1
      |    AS BIGINT) AS pos
      |FROM b ORDER BY stage, pos""".stripMargin

  // ---------------------------------------------------------------------
  // pk5_length_buckets — dynamic-batching shape analysis: assign every
  // document to its power-of-two token-length bucket and report, per
  // bucket, the document count, true token total, padded token total
  // (docs × bucket capacity — what the accelerator actually allocates
  // when batches are padded to the bucket length) and the padding waste
  // in ppm. This table is how a training pipeline picks its batch
  // shapes: pk1/pk2 pack greedily into one context length; length
  // bucketing is the alternative layout for sample-preserving
  // (non-packed) fine-tuning, and the waste column quantifies the
  // trade. The bucket is computed by a 16-arm CASE chain (exact
  // integers, identical in both engines — no float log2, whose rounding
  // at exact powers of two is not portable).
  //
  // Scale: map-only projection + ONE map-side-combined 16-group
  // aggregate; nothing is corpus-sized after the scan.
  private def pk5LengthBuckets(s: SparkSession, d: String): DataFrame = {
    val n = size(split(col("text"), " ")).cast("long")
    val bucket = (0 to 15).foldRight(lit(1L << 16): Column) { (k, rest) =>
      when(n <= (1L << k), lit(1L << k)).otherwise(rest)
    }
    Tables.documents(s, d)
      .select(col("doc_id"), n.as("n_tokens"), bucket.as("bucket_len"))
      .groupBy("bucket_len")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .withColumn("n_padded", expr("n_docs * bucket_len"))
      .withColumn("waste_ppm",
        expr("(n_padded - n_tokens) * 1000000L div n_padded"))
      .select("bucket_len", "n_docs", "n_tokens", "n_padded", "waste_ppm")
      .orderBy("bucket_len")
  }

  private val pk5Sql = {
    val arms = (0 to 15).map(k => s"WHEN n <= ${1L << k} THEN ${1L << k}")
      .mkString(" ")
    s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
       |b AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |    CAST(CASE $arms ELSE ${1L << 16} END AS BIGINT) AS bucket_len
       |  FROM t),
       |g AS (SELECT bucket_len, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |  FROM b GROUP BY 1)
       |SELECT bucket_len, n_docs, n_tokens,
       |  CAST(n_docs * bucket_len AS BIGINT) AS n_padded,
       |  CAST((n_docs * bucket_len - n_tokens) * 1000000
       |    // (n_docs * bucket_len) AS BIGINT) AS waste_ppm
       |FROM g ORDER BY bucket_len""".stripMargin
  }

  // pk6_rag_chunks — strided overlapping token windows WITHIN each doc:
  // chunk k of a doc covers token positions [k·S, k·S + B) with B=64,
  // S=48 (16-token overlap between neighbors) — the standard retrieval/
  // embedding chunker for unstructured text, where overlap keeps a span
  // that straddles a boundary intact in at least one chunk. Distinct
  // from pk1/pk2 (cross-doc greedy packing into training contexts, no
  // overlap) and dd10 (paragraph grain): this is the within-doc
  // read-side layout an index builds over, emitted as
  // (doc_id, chunk_id, n_tokens, is_full, chunk_md5).
  //
  // Membership is computed per TOKEN, never per pair: token p belongs
  // to chunks k ∈ [max(0, (p−B+S) div S), min(K, p div S)] — at most
  // ⌈B/S⌉ = 2 chunks — where K = (n_doc−B+S−1) div S caps the tail so
  // a final window fully contained in its predecessor is not emitted.
  // The clamp makes every division non-negative, so Spark's
  // truncate-toward-zero `div` and DuckDB's floor `//` agree exactly.
  //
  // Scale: one narrow token-grain frame (posexplode), a 2-row-max
  // explode of the membership range, and ONE (doc_id, chunk_id)
  // shuffle whose groups are bounded at B tokens (collect_list is
  // chunk-sized, never doc-sized). No windows, no skew (stride is
  // fixed), fingerprints via md5 so the oracle replays bit-for-bit.
  private val pk6Budget = 64L
  private val pk6Stride = 48L

  /** The chunker's token-grain membership frame — (doc_id, chunk k, p,
    * tok), one row per (token, member chunk) — shared by [[pk6RagChunks]]
    * (aggregates it to the chunk table) and the chunk-grain retrieval
    * query in TextOps (search4 scores BM25 over the same layout).
    */
  private[operators] def pk6TokenChunks(s: SparkSession, d: String): DataFrame =
    pk6TokenChunksOf(Tables.documents(s, d))

  /** [[pk6TokenChunks]] over an explicit documents frame (doc_id, text,
    * …) — the form [[Takedown]]-style flows use to chunk the CURRENT
    * state of a maintained catalog table instead of a corpus directory.
    */
  private[graft] def pk6TokenChunksOf(docs: DataFrame): DataFrame = {
    val B = pk6Budget
    val S = pk6Stride
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_doc", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("n_doc"),
        posexplode(col("toks")).as(Seq("p", "tok")))
      .filter(length(col("tok")) > 0)
      .withColumn("p", col("p").cast("long"))
      .withColumn("k_cap",
        greatest(lit(0L), expr(s"(n_doc - $B + $S - 1) div $S")))
      .withColumn("k", explode(sequence(
        greatest(lit(0L), expr(s"(p - $B + $S) div $S")),
        least(col("k_cap"), expr(s"p div $S")))))
      .select("doc_id", "k", "p", "tok")
  }

  private def pk6RagChunks(s: SparkSession, d: String): DataFrame = {
    val B = pk6Budget
    pk6TokenChunks(s, d)
      .groupBy(col("doc_id"), col("k").as("chunk_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            x => x.getField("tok")), " ")).as("chunk_md5"))
      .withColumn("is_full", col("n_tokens") === lit(B))
      .select("doc_id", "chunk_id", "n_tokens", "is_full", "chunk_md5")
      .orderBy("doc_id", "chunk_id")
  }

  /** DuckDB CTE fragment for the same membership frame (t → e → m);
    * shared by pk6's and search4's oracles.
    */
  private[operators] val pk6ChunkCtes = {
    val B = 64L; val S = 48L
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |e AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_doc,
       |    CAST(u.i - 1 AS BIGINT) AS p, toks[u.i] AS tok
       |  FROM t, UNNEST(generate_series(1, len(toks))) u(i)
       |  WHERE len(toks[u.i]) > 0),
       |m AS (SELECT doc_id, p, tok,
       |    UNNEST(generate_series(
       |      greatest(0, (p - $B + $S) // $S),
       |      least(greatest(0, (n_doc - $B + $S - 1) // $S), p // $S))) AS k
       |  FROM e)""".stripMargin
  }

  private val pk6Sql = {
    val B = 64L
    s"""WITH $pk6ChunkCtes,
       |g AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |    COUNT(*) AS n_tokens,
       |    md5(string_agg(tok, ' ' ORDER BY p)) AS chunk_md5
       |  FROM m GROUP BY 1, 2)
       |SELECT doc_id, chunk_id, n_tokens, n_tokens = $B AS is_full, chunk_md5
       |FROM g ORDER BY doc_id, chunk_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // pipe6_rag_index — the RAG INDEX BUILD as one Catalyst plan: pk6's
  // overlapping chunks → t10's hashing-trick chunk vectors (16-dim
  // signed-count — the vocabulary-free, trained-embedder-free text →
  // vector bridge) → IVF coarse cells over the chunk vectors (k=⌈√C⌉
  // deterministic seed centroids, sim3's convention; cell key = the
  // centroid chunk's (cell_doc, cell_k), no synthetic id) + the BM25
  // chunk-length stat — one manifest row per embeddable chunk, the
  // STORED retrieval index search6 queries. Chunks whose hashed dims
  // all cancel (zero vector) are lexical-only and absent here — cosine
  // against them is undefined and both engines exclude them identically
  // (exact-integer norm test).
  //
  // Scale: vectors are sparse (≤16 longs/chunk) so the hot frames are
  // fixed-width; centroid vectors/norms are a broadcast k×16 frame; the
  // one C×k work item is the IVF assignment — the standard index-build
  // cost, here a dim-equi-joined partial-product shuffle plus a
  // crossJoin against the k-row broadcast for the zero-overlap floor
  // (a pure dim-join DROPS chunk×centroid pairs with no shared dim;
  // when every present dot is negative the true argmax IS such a
  // zero pair, so the floor is correctness, not padding). Per-chunk
  // argmax is one bounded window over k rows.
  private[graft] final case class Pipe6Parts(
      vecs: DataFrame, cent: DataFrame, index: DataFrame, kCells: Int)

  /** Sparse hashed chunk vectors (doc_id, k, dim, w), w ≠ 0 — t10's
    * featurizer applied at the pk6 chunk grain (the layout the oracle
    * replays; Pipe6RagSpec uses it as the independent twin of the dense
    * frame below).
    */
  private[operators] def pipe6ChunkVectors(s: SparkSession, d: String): DataFrame = {
    val hm = graft.functions.VectorFunctions.md5Prefix60(col("tok"))
    pk6TokenChunks(s, d)
      .select(col("doc_id"), col("k"), pmod(hm, lit(16L)).as("dim"),
        when(shiftright(hm, 4) % 2L === 0L, 1L).otherwise(-1L).as("sgn"))
      .groupBy("doc_id", "k", "dim")
      .agg(sum(col("sgn")).as("w"))
      .filter(col("w") =!= 0L)
  }

  /** Dense hashed chunk vectors (doc_id, k, va[16], vnrm), zero vectors
    * excluded — one map-side-combined (doc, k) shuffle straight from the
    * token grain (16 conditional sums → fixed array), the layout the
    * codegen'd DotLong assignment consumes.
    */
  private[operators] def pipe6DenseVectors(s: SparkSession, d: String): DataFrame =
    pipe6DenseVectorsOf(pk6TokenChunks(s, d))

  private def pipe6DenseVectorsOf(toks: DataFrame): DataFrame = {
    val hm = graft.functions.VectorFunctions.md5Prefix60(col("tok"))
    toks
      .select(col("doc_id"), col("k"), pmod(hm, lit(16L)).as("dim"),
        when(shiftright(hm, 4) % 2L === 0L, 1L).otherwise(-1L).as("sgn"))
      .groupBy("doc_id", "k")
      .agg(sum(when(col("dim") === 0, col("sgn")).otherwise(0L)).as("d0"),
        (1 until 16).map(i =>
          sum(when(col("dim") === i, col("sgn")).otherwise(0L)).as(s"d$i")): _*)
      .select(col("doc_id"), col("k"),
        array((0 until 16).map(i => col(s"d$i")): _*).as("va"))
      .withColumn("vnrm", graft.functions.VectorFunctions.normSqLong(col("va")))
      .filter(col("vnrm") > 0L)
  }

  /** The shared index frames: dense vectors, centroid meta, and the
    * (chunk → cell) assignment. Checkpoints stand for the stored tables
    * a production index maintains per rebuild. The assignment is the
    * C×k work item done the cheap way: codegen'd DotLong against the
    * broadcast k×16 centroid frame, reduced MAP-SIDE by a combinable
    * max(struct(cos, −cdoc, −ck)) argmax (cos desc, cdoc asc, ck asc —
    * identical to the oracle's row_number order), so only C rows ever
    * shuffle. The first cut shipped the sparse dim-join + per-pair
    * partial-product shuffle + C×k window: 36.2 s at the 10× probe vs
    * 9.5 s for this plan (search6 over it: 74.9 → 12.7 s), same bits.
    * 10×/1× ratio ≈ 5 against a C·k work growth of 33× — sublinear
    * because the dot never leaves whole-stage codegen.
    */
  private[graft] def pipe6Parts(s: SparkSession, d: String): Pipe6Parts =
    pipe6PartsOf(pipe6DenseVectors(s, d))

  private def pipe6PartsOf(denseVecs: DataFrame): Pipe6Parts = {
    val vecs = denseVecs.localCheckpoint()
    val cc = vecs.count()
    val kc = math.ceil(math.sqrt(cc.toDouble)).toInt
    val cent = vecs.orderBy("doc_id", "k").limit(kc)
      .select(col("doc_id").as("cdoc"), col("k").as("ck"),
        col("va").as("vc"), col("vnrm").as("cnrm"))
    Pipe6Parts(vecs, cent, assignToCells(vecs, cent).localCheckpoint(), kc)
  }

  /** The (chunk → cell) IVF assignment against a GIVEN centroid frame —
    * factored from [[pipe6PartsOf]] so the incremental
    * [[advanceRagStore]] assigns new chunks with EXACTLY the build's
    * argmax (codegen'd DotLong against the broadcast centroids,
    * map-side-combinable max(struct(cos, −cdoc, −ck))).
    */
  private def assignToCells(vecs: DataFrame, cent: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cent))
      .withColumn("dot", graft.functions.VectorFunctions.dotLong(col("va"), col("vc")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("vnrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
      .groupBy("doc_id", "k", "vnrm")
      .agg(max(struct(col("cos").as("c"),
        (-col("cdoc")).as("ncd"), (-col("ck")).as("nck"))).as("m"))
      .select(col("doc_id"), col("k"), col("vnrm"),
        (-col("m.ncd")).as("cell_doc"), (-col("m.nck")).as("cell_k"))

  /** Publish pipe6's RAG index through [[graft.sources.Snapshots]] as ONE
    * atomic multi-table version — the lifecycle the registry plan's
    * localCheckpoints stand in for. Six tables, one pointer flip:
    *
    *   vecs      (doc_id, k, va[16], vnrm)      dense hashed chunk vectors
    *   cent      (cdoc, ck, vc[16], cnrm)       the k=⌈√C⌉ coarse cells
    *   index     (doc_id, k, vnrm, cell_doc, cell_k)  chunk → cell
    *   postings  (tok, doc_id, k, tf, dl)       inverted index, dl DENORMALIZED
    *   chunklens (doc_id, k, dl)                every chunk incl. zero-vector
    *   stats     (tt, n)                        corpus totals, 1 row
    *
    * dl rides each posting row (the classic posting-list layout: length
    * norm next to the hit) so the serving-side BM25 leg is a tok-pruned
    * scan + two broadcasts — NO store-sized join per query. postings are
    * repartitioned+sorted by tok so parquet row-group min/max stats prune
    * the query-term scan. A trainer/server records the returned version
    * (one [[graft.sources.RunLog]] row, `stage=publish_v<N>`) and pins it —
    * [[graft.operators.TextOps.search6FromStore]] reproduces its results
    * bit-for-bit after any number of rebuilds (RagStoreSpec).
    */
  private[graft] def publishRagStore(s: SparkSession, d: String,
      root: String, runLogPath: Option[String] = None,
      runTs: java.sql.Timestamp = new java.sql.Timestamp(0L)): Long =
    publishRagStoreFrom(s, Tables.documents(s, d), root, runLogPath, runTs)

  /** [[publishRagStore]] over an explicit documents frame — the form a
    * maintained warehouse uses (publish FROM the catalog table's current
    * state, e.g. right after [[graft.sources.Catalog.purgeKeys]] in a
    * takedown — graft.sources.Takedown composes exactly that, passing
    * the purged ids as `addTombstones`).
    *
    * The TOMBSTONE registry survives rebuilds: a rebuild publishes from
    * the (purged) source, so it cannot know historical deletion
    * requests on its own — the existing registry carries forward as
    * DATA (plus `addTombstones`), never as a version reference, so the
    * rebuild stays the chain cut. [[advanceRagStore]] refuses
    * tombstoned ids; without this an at-least-once replay of
    * pre-takedown inputs would re-index an erased doc.
    */
  private[graft] def publishRagStoreFrom(s: SparkSession, docs: DataFrame,
      root: String, runLogPath: Option[String] = None,
      runTs: java.sql.Timestamp = new java.sql.Timestamp(0L),
      addTombstones: Seq[Long] = Nil): Long = {
    import s.implicits._
    // resolved INSIDE the commit lock below: a takedown's tombstone
    // additions landing while this rebuild runs must not be lost to a
    // stale base
    def tombstones() = (graft.sources.Snapshots.latestVersion(s, root) match {
      // tolerate a pre-registry store (no tombstones table yet): its
      // first rebuild introduces the table
      case Some(v) if graft.sources.Snapshots.tableNames(s, root, v)
          .contains("tombstones") =>
        graft.sources.Snapshots.readTable(s, root, "tombstones", Some(v))
      case _ => s.range(0).select(col("id").as("doc_id"))
    }).unionByName(addTombstones.toDF("doc_id")).distinct()
    val toks = pk6TokenChunksOf(docs).localCheckpoint() // feeds vecs + dl + postings
    val parts = pipe6PartsOf(pipe6DenseVectorsOf(toks))
    val dl = toks.groupBy("doc_id", "k").agg(count(lit(1)).as("dl"))
      .localCheckpoint() // 3 consumers: postings join, chunklens, stats
    val postings = toks.groupBy("tok", "doc_id", "k")
      .agg(count(lit(1)).as("tf"))
      .join(dl, Seq("doc_id", "k"))
      .select("tok", "doc_id", "k", "tf", "dl")
      .repartition(col("tok")).sortWithinPartitions("tok")
    val stats = dl.agg(sum("dl").as("tt"), count(lit(1)).as("n"))
    val obs = org.apache.spark.sql.Observation(graft.Session.fresh("ragstore_"))
    val t0 = System.nanoTime()
    try {
      // under the ROOT's commit lease: a rebuild racing an incremental
      // advance ([[advanceRagStore]]) would otherwise read-latest →
      // write-latest and silently drop the advance's chunks from the
      // new latest. Deliberately ALL-FULL (never Carry/Append): the
      // rebuild is the retrain/chain-cut — after a takedown's republish
      // it must reference no pre-purge version, so vacuum can
      // physically reclaim the erased bytes (the executeChunks rule)
      val v = graft.sources.CommitLock.withLock(s, root) {
        graft.sources.Snapshots.writeTables(Seq(
          "vecs" -> parts.vecs,
          "cent" -> parts.cent,
          "tombstones" -> tombstones(),
          "index" -> parts.index.observe(obs, count(lit(1)).as("rows")),
          "postings" -> postings,
          // doc_id-sorted for the same reason postings are tok-sorted:
          // search7FromStore's per-query candidate lookup filters on ≤15
          // literal doc_ids, and row-group min/max stats on a sorted
          // column prune that scan to O(candidates) row groups instead of
          // the whole store (measured by ScaleProbe's `prod:search6`
          // arm, last at commit 561c6b9 — the r13 linear serving term
          // this removes)
          "chunklens" -> dl.repartition(col("doc_id"))
            .sortWithinPartitions("doc_id", "k"),
          "stats" -> stats), root)
      }
      runLogPath.foreach(p => graft.sources.RunLog.append(s, p, Seq(
        graft.sources.RunLog.entry(runTs, "rag_index", s"publish_v$v",
          obs.get("rows").asInstanceOf[Long], t0))))
      v
    } catch {
      case scala.util.control.NonFatal(e) =>
        runLogPath.foreach(p => graft.sources.RunLog.append(s, p, Seq(
          graft.sources.RunLog.failed(runTs, "rag_index", "publish", t0, e))))
        throw e
    } finally
      // the build's checkpoint blocks (toks is token-grain — the largest
      // frame here) must not accumulate across nightly publishes or
      // repeated takedowns in a long-lived session
      Seq(toks, dl, parts.vecs, parts.index)
        .foreach(_.unpersist(blocking = false))
  }

  /** INCREMENTAL RAG-STORE ADVANCE — the serving-side twin of
    * [[advanceStore]]: fold a batch of NEW documents into the published
    * retrieval index ([[publishRagStore]]'s six tables) so
    * [[graft.operators.TextOps.search6FromStore]]/`search7FromStore`
    * serve them between nightly rebuilds. The batch's pk6 chunks are
    * vectorized and assigned to the PINNED stored centroids — exactly
    * the build's argmax ([[assignToCells]], shared code) — and the
    * commit is LAYERED ([[graft.sources.Snapshots.writeTablesSpec]]):
    * vecs/index/postings/chunklens land as Append deltas over the
    * pinned version, the centroids Carry, only the 1-row stats table
    * writes Full. Delta files keep the store's sort conventions
    * (postings by tok, chunklens by doc_id) so the serving scans'
    * row-group pruning applies to every layer.
    *
    * The honest contract — freshness, not retraining: the cell count
    * stays k=⌈√C₀⌉ of the LAST REBUILD's corpus and new chunks join
    * existing cells (the standard IVF-grow-until-retrain posture of a
    * production vector DB), so the recall ceiling drifts as the corpus
    * grows and the nightly [[publishRagStore]] rebuild — which
    * re-derives k and the centroids, writes all-Full, and thereby CUTS
    * the advance's chain for vacuum — remains the quality-maintenance
    * path. Consequently an advance is NOT bit-equal to a rebuild on
    * the grown corpus (different centroids); what IS pinned
    * (AdvanceRagStoreSpec): two advances compose associatively
    * (advance(b1); advance(b2) ≡ advance(b1 ∪ b2), all six tables),
    * a pinned pre-advance version serves bit-identically after any
    * number of advances, the advanced latest retrieves the new docs,
    * and a replayed batch (doc_id already in chunklens — the
    * membership guard) commits nothing.
    *
    * Scale: compute is O(batch chunks × k) codegen'd dots against the
    * broadcast centroid frame + batch-sized aggregations; the write is
    * O(batch) bytes. MEASURED (ScaleProbe `prod:search6` rag-advance
    * arms, last at commit 561c6b9; warm): a
    * fixed 20-doc batch advances the sf0.1 store in 2.56 s and the 10×
    * store in 2.24 s — flat in store size. Runs under the root's commit
    * lease (an advance racing the nightly rebuild or a takedown
    * republish must fail loudly, not silently lose). Returns the
    * committed version (the prior version when nothing in the batch is
    * new).
    */
  private[graft] def advanceRagStore(s: SparkSession, batchDocs: DataFrame,
      root: String, runLogPath: Option[String] = None): Long =
    graft.sources.CommitLock.withLock(s, root) {
      advanceRagStoreLocked(s, batchDocs, root, runLogPath)
    }

  private def advanceRagStoreLocked(s: SparkSession, batchDocs: DataFrame,
      root: String, runLogPath: Option[String]): Long = {
    val drifts = scala.collection.mutable.Buffer[SchemaDrift]()
    val onDrift: SchemaDrift => Unit = dr => {
      drifts += dr
      System.err.println(s"graft rag advance [${dr.table}]: ${dr.describe}")
    }
    import graft.sources.Snapshots
    import Snapshots.{Append, Carry, Full, TableSpec}
    val v0 = Snapshots.latestVersion(s, root).getOrElse(
      throw new IllegalStateException(s"no committed RAG store under $root"))
    def stored(t: String) = Snapshots.readTable(s, root, t, Some(v0))
    // upgrade tolerance: a pre-registry store reads as an empty
    // registry and this advance introduces the table (Full-empty)
    val hasTomb = Snapshots.tableNames(s, root, v0).contains("tombstones")
    def storedTombstones() =
      if (hasTomb) stored("tombstones")
      else s.range(0).select(col("id").as("doc_id"))
    // TOMBSTONE guard first (an id a takedown erased must never
    // re-enter via an at-least-once replay of pre-takedown inputs —
    // the membership guard below can't catch it, the id is absent),
    // then the membership guard at the DOC grain: chunklens covers
    // every chunk of every indexed doc (including zero-vector
    // lexical-only chunks), so its doc_id set IS the indexed-doc set —
    // a replayed trigger's docs anti-join away and an all-replayed
    // batch commits nothing
    // intra-batch id dedup (see [[dedupBatchIds]]): a doc delivered
    // twice within one trigger would otherwise be indexed twice — no
    // downstream gate catches identical ids arriving together. The two
    // id guards fold into ONE anti-join against the unioned guard
    // frame (registry ∪ indexed-doc ids) — one shuffle of the batch
    // instead of two. No distinct on the chunklens side: an anti-join
    // is insensitive to duplicate guard rows, and the dedup would cost
    // its own exchange+aggregate just to shrink a side the join
    // shuffles by the same key anyway.
    val guardIds = storedTombstones().select("doc_id")
      .unionByName(stored("chunklens").select("doc_id"))
    val fresh = dedupBatchIds(batchDocs)
      .join(guardIds, Seq("doc_id"), "left_anti")
    val toks = pk6TokenChunksOf(fresh).localCheckpoint() // vecs + dl + postings
    try {
      if (toks.isEmpty) return v0
      // pinned once: the vecs Append delta AND the cell assignment read
      // it — without the pin the per-token hashing + per-chunk vector
      // aggregation (the dominant compute term) would run twice
      val vecsDelta = pipe6DenseVectorsOf(toks).localCheckpoint()
      val dl = toks.groupBy("doc_id", "k").agg(count(lit(1)).as("dl"))
        .localCheckpoint() // 3 consumers: postings join, chunklens, stats
      try {
        val postingsDelta = toks.groupBy("tok", "doc_id", "k")
          .agg(count(lit(1)).as("tf"))
          .join(dl, Seq("doc_id", "k"))
          .select("tok", "doc_id", "k", "tf", "dl")
          .repartition(col("tok")).sortWithinPartitions("tok")
        val d = dl.agg(sum("dl").as("dtt"), count(lit(1)).as("dn")).first()
        val stats = stored("stats").select(
          (col("tt") + lit(d.getAs[Long]("dtt"))).as("tt"),
          (col("n") + lit(d.getAs[Long]("dn"))).as("n"))
        // every Append delta conforms to its base's STORED schema
        // ([[conformTo]]) — a RAG store migrated forward by an
        // upgraded engine still accepts this advance, symmetric with
        // the pack-store manifest fill
        val v = Snapshots.writeTablesSpec(s, Seq(
          "vecs" -> (Append(v0,
            conformTo(vecsDelta, stored("vecs").schema, "vecs",
              onDrift)): TableSpec),
          "cent" -> Carry(v0),
          "tombstones" -> (if (hasTomb) Carry(v0)
            else Full(storedTombstones()): TableSpec),
          "index" -> Append(v0, conformTo(
            assignToCells(vecsDelta, stored("cent")),
            stored("index").schema, "index", onDrift)),
          "postings" -> Append(v0,
            conformTo(postingsDelta, stored("postings").schema,
              "postings", onDrift)),
          "chunklens" -> Append(v0, conformTo(
            dl.repartition(col("doc_id"))
              .sortWithinPartitions("doc_id", "k"),
            stored("chunklens").schema, "chunklens", onDrift)),
          // the recomputed-Full stats table conforms too: a migrated
          // stats column survives the advance schema-stable
          "stats" -> Full(conformTo(stats, stored("stats").schema,
            "stats", onDrift, fullRewrite = true))), root)
        logDrifts(s, runLogPath, "rag_store_advance", drifts.toSeq)
        v
      } finally {
        dl.unpersist(blocking = false)
        vecsDelta.unpersist(blocking = false)
      }
    } finally toks.unpersist(blocking = false)
  }

  private def pipe6RagIndex(s: SparkSession, d: String): DataFrame = {
    val parts = pipe6Parts(s, d)
    val dl = pk6TokenChunks(s, d).groupBy("doc_id", "k")
      .agg(count(lit(1)).as("dl"))
    parts.index.join(dl, Seq("doc_id", "k"))
      .select(col("doc_id"), col("k").as("chunk_id"),
        col("cell_doc"), col("cell_k"), col("vnrm"), col("dl"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Oracle CTE chain for the pipe6 index, ending in `idx` (doc_id, k,
    * vnrm, cell_doc, cell_k) and `dlc` (doc_id, k, dl); builds on
    * [[pk6ChunkCtes]]' token-chunk membership frame `m`. Shared with
    * the search6 oracle in TextOps.
    */
  private[operators] val pipe6IndexCtes =
    s"""$pk6ChunkCtes,
       |v0 AS (SELECT doc_id, k, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS hm FROM m),
       |vv AS (SELECT doc_id, k, hm % 16 AS dim,
       |    CASE WHEN (hm // 16) % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM v0),
       |vw AS (SELECT doc_id, k, dim, CAST(SUM(sgn) AS BIGINT) AS w FROM vv
       |  GROUP BY 1, 2, 3 HAVING SUM(sgn) <> 0),
       |vn AS (SELECT doc_id, k, CAST(SUM(w * w) AS BIGINT) AS vnrm FROM vw GROUP BY 1, 2),
       |cm AS (SELECT doc_id AS cdoc, k AS ck, vnrm AS cnrm FROM vn ORDER BY doc_id, k
       |  LIMIT (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM vn)),
       |cv AS (SELECT cm.cdoc, cm.ck, vw.dim, vw.w AS cw FROM cm
       |  JOIN vw ON vw.doc_id = cm.cdoc AND vw.k = cm.ck),
       |pr AS (SELECT vw.doc_id, vw.k, cv.cdoc, cv.ck, CAST(SUM(vw.w * cv.cw) AS BIGINT) AS dot
       |  FROM vw JOIN cv USING (dim) GROUP BY 1, 2, 3, 4),
       |asg0 AS (SELECT vn.doc_id, vn.k, vn.vnrm, cm.cdoc, cm.ck, cm.cnrm,
       |    COALESCE(pr.dot, 0) AS dot
       |  FROM vn CROSS JOIN cm LEFT JOIN pr ON pr.doc_id = vn.doc_id AND pr.k = vn.k
       |    AND pr.cdoc = cm.cdoc AND pr.ck = cm.ck),
       |asg AS (SELECT doc_id, k, vnrm, cdoc, ck,
       |    row_number() OVER (PARTITION BY doc_id, k ORDER BY
       |      CAST(dot AS DOUBLE) / (sqrt(CAST(vnrm AS DOUBLE)) * sqrt(CAST(cnrm AS DOUBLE))) DESC,
       |      cdoc, ck) AS arn
       |  FROM asg0),
       |idx AS (SELECT doc_id, k, vnrm, cdoc AS cell_doc, ck AS cell_k FROM asg WHERE arn = 1),
       |dlc AS (SELECT doc_id, k, COUNT(*) AS dl FROM m GROUP BY 1, 2)""".stripMargin

  private val pipe6Sql = graft.OracleHints.materializeCtes(
    s"""WITH $pipe6IndexCtes
       |SELECT idx.doc_id, CAST(idx.k AS BIGINT) AS chunk_id,
       |  cell_doc, CAST(cell_k AS BIGINT) AS cell_k, vnrm, dl
       |FROM idx JOIN dlc ON idx.doc_id = dlc.doc_id AND idx.k = dlc.k
       |ORDER BY idx.doc_id, chunk_id""".stripMargin)

  val queries: Seq[Q] = Seq(
    Q("pipe6_rag_index", pipe6RagIndex, Some(pipe6Sql)),
    Q("pk6_rag_chunks", pk6RagChunks, Some(pk6Sql)),
    Q("pk5_length_buckets", pk5LengthBuckets, Some(pk5Sql)),
    Q("pipe1_train_manifest", pipe1TrainManifest, Some(pipe1Sql)),
    Q("pipe2_full_prep", pipe2FullPrep, Some(pipe2Sql)),
    Q("pipe3_incremental_prep", pipe3IncrementalPrep, Some(pipe3Sql)),
    Q("pipe4_pack_emit", pipe4PackEmit, Some(pipe4Sql)),
    Q("pipe5_incremental_chunks", pipe5IncrementalChunks, Some(pipe5Sql)),
    Q("mix2_temperature", mix2Temperature, Some(mix2Sql)),
    Q("mix3_dsir_importance", mix3DsirImportance, Some(mix3Sql)),
    Q("mix4_incremental_dsir", mix4IncrementalDsir, Some(mix4Sql)),
    Q("cur1_curriculum", cur1Curriculum, Some(cur1Sql)),
    Q("pk4_shuffle", pk4Shuffle, Some(pk4Sql)),
    Q("dc1_decontaminate", dc1Decontaminate, Some(dc1Sql)),
    Q("dc2_chunk_decontaminate", dc2ChunkDecontaminate, Some(dc2Sql)),
    Q("pk1_pack_sequences", pk1PackSequences, Some(pk1Sql)),
    Q("pk2_pack_emit", pk2PackEmit, Some(pk2Sql)),
    Q("pk3_attention_spans", pk3AttentionSpans, Some(pk3Sql)),
    Q("dd10_paragraph_dedup", dd10ParagraphDedup, Some(dd10Sql)),
    Q("t7_pii_redact", t7PiiRedact, Some(t7Sql)),
    Q("mix1_domain_mix", mix1DomainMix, Some(mix1Sql)))
}
