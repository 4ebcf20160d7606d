package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: language-ID heuristic, quality scoring, token
  * counting, document fingerprinting. All computations are exact-integer
  * or string-valued so the DuckDB oracle hash-matches (see graft.Q).
  *
  * Scale: every op is a narrow per-row projection (no shuffle at all
  * except the final presentation ORDER BY) — at 100 TB these run
  * map-only and whole-stage-codegen'd.
  */
object TextOps {

  /** The benchmark query's terms — ONE constant for every leg of every
    * retrieval query (search1/4/5/6/7 lexical scoring, search6's hashed
    * query vector, the from-store serving twins). The from-store twins'
    * bit-parity contract with the registry plans depends on the terms
    * never diverging between copies, so there are no copies.
    */
  private val queryTerms = Seq("hash", "join", "scan")

  /** The documents scan spread to the session's parallelism
    * (Par.spreadTable, guide §2.5). Used ONLY by t9, whose whole cost
    * is the (term, doc) partial aggregation in the scan stage (it
    * anti-scaled 0.56× at 32c in r19 and the r20 full-bench A/B
    * measured 0.64× with the spread); for the other tokenizers the
    * same A/B measured the extra exchange as a regression — they keep
    * the bare scan. A no-op at production split counts.
    */
  private def docsSpread(s: SparkSession, d: String): DataFrame =
    Par.spreadTable(s, d, "documents", col("doc_id"))

  /** Occurrences of `needle` in `hay` as an exact long:
    * (len(hay) - len(replace(hay, needle, ''))) / len(needle).
    * Literal-string StringReplace, not regexp_replace — no regex engine
    * on the hot path (the markers are plain words).
    */
  private def occ(hay: Column, needle: String): Column =
    ((length(hay) - length(replace(hay, lit(needle), lit("")))) / needle.length)
      .cast("long")

  private def occSql(hay: String, needle: String): String =
    s"CAST((len($hay) - len(replace($hay, '$needle', ''))) / ${needle.length} AS BIGINT)"

  // stopword markers per language for the n-gram/keyword heuristic;
  // padded with spaces so they match whole words in ' '||text||' '.
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " of ", " and "),
    "es" -> Seq(" el ", " la ", " de ", " que "),
    "fr" -> Seq(" le ", " la ", " et ", " les "),
    "de" -> Seq(" der ", " die ", " und ", " das "))

  // ---------------------------------------------------------------------
  // t1_lang_id — keyword-marker language scoring; pred = argmax score
  // with 'und' (undetermined) when all scores are 0. Deterministic
  // tie-break: first language in fixed order wins strictly-greater
  // comparison chain.
  private def t1LangId(s: SparkSession, d: String): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val scores = langMarkers.map { case (lang, kws) =>
      lang -> kws.map(k => occ(padded, k)).reduce(_ + _)
    }
    val df0 = Tables.documents(s, d).select(
      col("doc_id") +: scores.map { case (l, c) => c.as(s"score_$l") }: _*)
    // argmax in fixed order: en beats es beats fr beats de on ties
    val pred = when(greatest(scores.map(n => col(s"score_${n._1}")): _*) === 0L, "und")
      .otherwise(
        scores.map(_._1).reverse.foldLeft(lit("und")) { (acc, l) =>
          // l wins if its score equals the max and no earlier lang matched;
          // iterate reversed so earlier langs override later ones.
          when(col(s"score_$l") === greatest(scores.map(n => col(s"score_${n._1}")): _*), lit(l))
            .otherwise(acc)
        })
    df0.withColumn("pred_lang", pred).orderBy("doc_id")
  }

  private val t1Sql: String = {
    val pad = "(' ' || text || ' ')"
    val scoreExprs = langMarkers.map { case (lang, kws) =>
      s"(${kws.map(k => occSql(pad, k)).mkString(" + ")}) AS score_$lang"
    }.mkString(",\n ")
    val maxE = s"greatest(${langMarkers.map("score_" + _._1).mkString(", ")})"
    val caseE = langMarkers.map { case (lang, _) =>
      s"WHEN score_$lang = $maxE THEN '$lang'"
    }.mkString(" ")
    s"""WITH sc AS (SELECT doc_id,
       | $scoreExprs
       |FROM documents)
       |SELECT doc_id, score_en, score_es, score_fr, score_de,
       | CASE WHEN $maxE = 0 THEN 'und' $caseE ELSE 'und' END AS pred_lang
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // t2_quality — length/word/alpha-ratio quality scoring. Ratios are
  // single divisions of exact ints (deterministic doubles).
  private def t2Quality(s: SparkSession, d: String): DataFrame = {
    val nWords = size(split(col("text"), " ")).cast("long")
    val nAlpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
    val nStop = occ(concat(lit(" "), col("text"), lit(" ")), " the ") +
      occ(concat(lit(" "), col("text"), lit(" ")), " a ")
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        col("n_chars"),
        nWords.as("n_words"),
        nAlpha.as("n_alpha"),
        nStop.as("n_stop"),
        (nAlpha.cast("double") / col("n_chars")).as("alpha_ratio"),
        (nStop.cast("double") / nWords).as("stop_ratio"),
        (nWords >= 10L && nAlpha * 2L > col("n_chars")).as("quality_ok"))
      .orderBy("doc_id")
  }

  private val t2Sql: String = {
    val pad = "(' ' || text || ' ')"
    val nStop = s"(${occSql(pad, " the ")} + ${occSql(pad, " a ")})"
    s"""SELECT doc_id, n_chars,
       | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       | CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
       | $nStop AS n_stop,
       | CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / n_chars AS alpha_ratio,
       | CAST($nStop AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
       | (len(string_split(text, ' ')) >= 10 AND
       |  CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT)*2 > n_chars) AS quality_ok
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // t3_tokens — whitespace token count + BPE-ish regex token count
  // (word pieces: letter runs, digit runs, single punctuation marks).
  private def t3Tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast("long").as("n_re_tokens"))
      .orderBy("doc_id")

  private val t3Sql =
    """SELECT doc_id,
      | CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_ws_tokens,
      | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t4_fingerprint — normalization + content hash (whitespace-collapsed
  // lowercase md5), the deterministic document identity used by exact
  // dedup (reference analogue: the seen-set identity of
  // process_wistia_data_v2.py:314-344).
  private def t4Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"),
        substring(md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))), 1, 8)
          .as("fp_bucket"))
      .orderBy("doc_id")

  private val t4Sql =
    """SELECT doc_id,
      | md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      | substring(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 8) AS fp_bucket
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t5_repetition — Gopher-style repetition filters: top-word fraction
  // and duplicate word-3-gram fraction (high values mark boilerplate/spam
  // for LLM-corpus pruning). Exact integer counts; ratios are single
  // divisions. One shuffle (groupBy doc) over hashed-token rows.
  private def t5Repetition(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val topWord = words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n_words"), max(col("c")).as("top_word_cnt"))
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 3)).as("i"))
      .select(col("doc_id"), xxhash64(concat_ws(" ",
        element_at(col("toks"), col("i") + 1),
        element_at(col("toks"), col("i") + 2),
        element_at(col("toks"), col("i") + 3))).as("h"))
    val shag = sh.groupBy("doc_id").agg(
      count(lit(1)).as("n_sh"), countDistinct(col("h")).as("n_sh_distinct"))
    topWord.join(shag, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_words"), col("top_word_cnt"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_sh_distinct"), lit(0L)).as("n_sh_distinct"),
        (col("top_word_cnt").cast("double") / col("n_words")).as("top_word_frac"),
        when(coalesce(col("n_sh"), lit(0L)) === 0L, 0.0)
          .otherwise((col("n_sh") - col("n_sh_distinct")).cast("double") / col("n_sh"))
          .as("dup_shingle_frac"))
      .orderBy("doc_id")
  }

  // DuckDB twin: same hashed 3-grams (distinct-on-hash ≡ distinct-on-
  // string modulo xxhash64 collisions — Spark-only; the oracle counts
  // distinct strings, identical result barring collisions).
  private val t5Sql =
    """WITH w AS (
      |  SELECT doc_id, u.w FROM
      |    (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
      |    UNNEST(t.toks) AS u(w)),
      |tw AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
      |              CAST(MAX(c) AS BIGINT) AS top_word_cnt
      |       FROM (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
      |       GROUP BY doc_id),
      |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
      |       FROM t2, UNNEST(generate_series(1, greatest(len(toks)-2, 0))) u(i)),
      |sa AS (SELECT doc_id, COUNT(*) AS n_sh, COUNT(DISTINCT s) AS n_sh_distinct
      |       FROM sh GROUP BY doc_id)
      |SELECT tw.doc_id, n_words, top_word_cnt,
      |  CAST(COALESCE(n_sh, 0) AS BIGINT) AS n_sh,
      |  CAST(COALESCE(n_sh_distinct, 0) AS BIGINT) AS n_sh_distinct,
      |  CAST(top_word_cnt AS DOUBLE) / n_words AS top_word_frac,
      |  CASE WHEN COALESCE(n_sh, 0) = 0 THEN 0.0
      |       ELSE CAST(n_sh - n_sh_distinct AS DOUBLE) / n_sh END AS dup_shingle_frac
      |FROM tw LEFT JOIN sa ON sa.doc_id = tw.doc_id
      |ORDER BY tw.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t6_stratified_sample — deterministic corpus subsampling: keep a doc
  // iff md5(doc_id) lands under the rate threshold (reproducible across
  // engines/runs/cluster sizes — no RNG state), reported per (lang,
  // source) stratum. The standard curation primitive for rebalancing a
  // training corpus; map-only except the final stratum rollup.
  private def t6StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val keep = (graft.functions.VectorFunctions.md5Prefix60(col("doc_id").cast("string")) % 100L) < 20L
    Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(keep, 1L).otherwise(0L)).as("n_sampled"),
        sum(when(keep, col("n_chars")).otherwise(0L)).as("sampled_chars"))
      .orderBy("lang", "source")
  }

  private val t6Sql =
    """SELECT lang, source, COUNT(*) AS n_total,
      | CAST(SUM(CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 20
      |          THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      | CAST(SUM(CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 20
      |          THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------------
  // t8_top_terms — per-doc salient terms: tf within the doc over df
  // across the corpus (relative-document-frequency weighting — the
  // integer-exact cousin of tf-idf: the ranking key is
  // score_ppm = tf·10⁶ div df, monotone in tf/df, no transcendental in
  // sight so both engines rank identically; ties broken by term asc).
  // Top 3 terms per doc.
  //
  // Scale: tf is one map-side-combined shuffle on (doc, term); df
  // derives from the tf frame (already one row per doc×term) with a
  // second small shuffle on term; the per-doc rank partitions by doc_id.
  // Term strings shuffle once — the tf agg — and everything downstream
  // moves (long, long) pairs plus the ≤3 surviving terms per doc.
  private def t8TopTerms(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_ppm").desc, col("term"))
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // referenced 2× (tf side + df derivation)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .withColumn("score_ppm", expr("tf * 1000000L div df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("int").as("rnk"),
        col("term"), col("tf"), col("df"), col("score_ppm"))
      .orderBy("doc_id", "rnk")
  }

  private val t8Sql =
    """WITH wds AS (SELECT doc_id, u.term FROM
      |    (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |    UNNEST(toks) AS u(term)
      |  WHERE u.term <> ''),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM wds GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |r AS (SELECT doc_id, term, tf.tf, df.df,
      |    tf.tf * 1000000 // df.df AS score_ppm,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY tf.tf * 1000000 // df.df DESC, term) AS rnk
      |  FROM tf JOIN df USING (term))
      |SELECT doc_id, CAST(rnk AS INT) AS rnk, term,
      |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      |  CAST(score_ppm AS BIGINT) AS score_ppm
      |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // t9_vocab_stats — corpus vocabulary statistics, the input to tokenizer
  // and vocab construction: per-term total frequency (tf) and document
  // frequency (df), global top-100 by tf (term-asc tiebreak) with rank.
  //
  // Scale: (term, doc) partial counts combine map-side, then one
  // vocab-sized aggregate; the global top-100 is orderBy+limit —
  // Spark's distributed TakeOrdered (each partition forwards ≤100
  // rows) — NOT a vocab-wide single-partition window; the rank column
  // is a window over the 100 surviving rows only.
  private def t9VocabStats(s: SparkSession, d: String): DataFrame = {
    val td = docsSpread(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("n"))
    val stats = td.groupBy("term")
      .agg(sum(col("n")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("term")).limit(100)
    stats.withColumn("term_rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("tf").desc, col("term"))).cast("long"))
      .orderBy("term_rank")
  }

  private val t9Sql =
    """WITH td AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |g AS (SELECT term, doc_id, COUNT(*) AS n FROM td GROUP BY 1, 2),
      |s AS (SELECT term, CAST(SUM(n) AS BIGINT) AS tf, COUNT(*) AS df FROM g GROUP BY 1)
      |SELECT term, tf, df,
      |  CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT) AS term_rank
      |FROM s ORDER BY tf DESC, term LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------
  // t10_feature_hash — the HASHING-TRICK featurizer (Weinberger et al.
  // 2009): each token hashes to one of 16 dimensions with a hash-derived
  // ±1 sign, and a document's feature vector is the signed count sum per
  // dimension — the deterministic, vocabulary-free text→vector bridge
  // into the sim* ANN suite (no trained embedding needed). Output is the
  // sparse long form (doc_id, dim, weight), weight ≠ 0 — engine-portable
  // (no array-typed output) and exactly what a downstream
  // pivot-to-dense or cosine pass consumes.
  //
  // Portability: the dimension/sign hash is the md5-derived 60-bit int
  // (identical hex in both engines — the dd3 convention), dim = hm mod
  // 16, sign = parity of hm div 16. Scale: featurization is map-only;
  // the single shuffle is the (doc, dim) partial-sum — map-side
  // combined, ≤16 rows per doc survive.
  private def t10FeatureHash(s: SparkSession, d: String): DataFrame = {
    val hm = graft.functions.VectorFunctions.md5Prefix60(col("term"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .select(col("doc_id"), pmod(hm, lit(16L)).as("dim"),
        when(shiftright(hm, 4) % 2L === 0L, 1L).otherwise(-1L).as("sgn"))
      .groupBy("doc_id", "dim")
      .agg(sum(col("sgn")).as("weight"))
      .filter(col("weight") =!= 0L)
      .orderBy("doc_id", "dim")
  }

  private val t10Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |h AS (SELECT doc_id, ('0x' || substring(md5(term), 1, 15))::BIGINT AS hm FROM tok),
      |f AS (SELECT doc_id, hm % 16 AS dim,
      |    CASE WHEN (hm // 16) % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM h)
      |SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS weight
      |FROM f GROUP BY 1, 2 HAVING SUM(sgn) <> 0 ORDER BY doc_id, dim""".stripMargin

  // ---------------------------------------------------------------------
  // t11_bpe_merges — the iterative BPE-style PAIR-MERGE loop (Sennrich et
  // al. 2016, at word granularity): k rounds of (count adjacent token
  // pairs across the corpus → take the globally most frequent pair,
  // count-desc / lhs-asc / rhs-asc tie-break → merge every
  // leftmost-non-overlapping occurrence into one token → recount). The
  // missing bridge from corpus stats (t9) to an actual tokenizer: the
  // output IS the merge table a BPE tokenizer replays at encode time.
  //
  // Greedy-merge semantics: within a run of consecutive candidate
  // positions (only possible when lhs == rhs, e.g. "a a a a"), BPE
  // merges left-to-right non-overlapping — i.e. the candidates at even
  // offsets from the run start. Runs are isolated with gaps-and-islands
  // (pos − row_number), so the rewrite is pure window algebra — no
  // per-doc sequential scan.
  //
  // Scale (dd7's loop discipline — the driver iterates over ACTIONS,
  // never rows): each round is one map-side-combined pair-count shuffle
  // and a distributed TakeOrdered(1) (the only collect — a single row,
  // like the HWM scalar). Since r15 the REWRITE half is the single-pass
  // native BpeEncode expression stacked over the one checkpointed
  // array-form corpus (see bpeLoopOf) — no per-round doc_id window
  // exchange and no per-round materialization.
  private val t11K = 6

  /** The shared BPE merge loop: k rounds of count→argmax→rewrite.
    * Returns the merge table rows (driver-side, k scalars) and the
    * FINAL rewritten corpus as (doc_id, toks array<string>) — t11
    * reports the former, t18 the per-doc encode statistics of the
    * latter.
    */
  private def bpeLoop(s: SparkSession, d: String)
      : (Seq[(Long, String, String, Long)], DataFrame) =
    bpeLoopOf(Tables.documents(s, d))

  /** One greedy merge REWRITE round over an exploded (doc_id, pos, tok)
    * corpus: merge every leftmost-non-overlapping (a, b) occurrence.
    * Occurrences are marked INLINE on the full frame (no filtered
    * self-join back on (doc_id, pos) — that join re-shuffled the corpus
    * on a different key every round): grp = pos − running candidate
    * count isolates runs exactly like the filtered pos − row_number
    * form, and min-over-(doc, grp) only reads candidate rows via the
    * when(). All windows cluster by doc_id, so the whole round is one
    * doc_id exchange (reused from the checkpointed corpus).
    *
    * Since r15 this window form is the EXECUTABLE SPEC dual: the hot
    * paths (the trainer's rewrite half and the serving encode) run the
    * single-pass native [[graft.functions.VectorFunctions.bpeEncode]]
    * expression instead, and BpeEncodeSpec pins the two replays
    * sequence-bit-equal differentially ([[bpeReplayWindowed]]).
    */
  private def bpeMergeRound(corpus: DataFrame, a: String,
      b: String): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    bpeMergeRoundOver(
      corpus.withColumn("nxt", lead(col("tok"), 1).over(wDoc)), a, b)
  }

  /** [[bpeMergeRound]] over a frame that ALREADY carries the `nxt`
    * lead column — the trainer hands its pair-counting frame straight
    * in, so the rewrite chains on the same plan (the original t11
    * shape) instead of re-deriving the lead window.
    */
  private def bpeMergeRoundOver(withNext: DataFrame, a: String,
      b: String): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val cand = col("tok") === a && col("nxt") === b
    withNext
      .withColumn("cand", cand)
      .withColumn("grp",
        when(col("cand"), col("pos") -
          sum(when(col("cand"), 1L).otherwise(0L)).over(wDoc)))
      .withColumn("minp", min(when(col("cand"), col("pos")))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id", "grp")))
      .withColumn("m", col("cand") && (col("pos") - col("minp")) % 2 === 0)
      .withColumn("pm", lag(col("m"), 1).over(wDoc))
      .filter(col("pm").isNull || !col("pm")) // drop consumed rhs
      .withColumn("tok2",
        when(col("m"), lit(a + " " + b)).otherwise(col("tok")))
      .withColumn("pos2", row_number().over(wDoc).cast("long") - 1L)
      .select(col("doc_id"), col("pos2").as("pos"), col("tok2").as("tok"))
      .localCheckpoint() // dd7/t11 loop discipline: no per-round lineage growth
  }

  private def bpeExplode(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), posexplode(split(col("text"), " ")))
    .select(col("doc_id"), col("pos").cast("long").as("pos"),
      col("col").as("tok"))

  /** The k-round window-algebra replay of a fixed merge table over an
    * exploded corpus — the pre-r15 encode path, kept as the executable
    * spec the single-pass [[graft.functions.VectorFunctions.bpeEncode]]
    * expression is differentially pinned against (BpeEncodeSpec, full
    * token sequences, sf0.001 corpus + adversarial self-merge runs).
    * Returns (doc_id, pos, tok).
    */
  private[graft] def bpeReplayWindowed(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(bpeExplode(docs).localCheckpoint()) {
      case (c, (a, b)) => bpeMergeRound(c, a, b)
    }

  /** Array-form trainer loop: the corpus stays ONE row per doc
    * (`toks: array<string>`), round r's corpus is the base plus the
    * first r−1 merges STACKED into a single [[graft.functions
    * .VectorFunctions.bpeEncode]] map pass, and pairs for the count come
    * from an in-row zip (t12's discipline). What this removes vs the
    * pre-r15 exploded form: the per-round doc_id window exchange + sort
    * over the FULL corpus (the rewrite is now embarrassingly parallel)
    * and the per-round localCheckpoint materialization — the only
    * shuffle left per round is the map-side-combined pair count, and
    * the only collect stays the 1-row argmax. Re-applying r−1 in-memory
    * merges per round costs O(k²/2) map passes total — at k=6, 15 cheap
    * codegen'd passes against checkpoint-free lineage. MEASURED (sf0.1,
    * warm): t11 4.87 → 1.43 s and t18 4.92 → 1.49 s vs the r14 exploded
    * window form — the pair extraction must stay arrays_zip (plain
    * codegen'd), not zip_with (CodegenFallback HOF, ~5× on this path).
    */
  private[graft] def bpeLoopOf(docs: DataFrame, k: Int = t11K)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .localCheckpoint() // read k+1 times: once per round's count + final
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    def encoded: DataFrame =
      if (merges.isEmpty) base
      else base.withColumn("toks", graft.functions.VectorFunctions
        .bpeEncode(col("toks"), merges.toSeq.map(m => (m._2, m._3))))
    var r = 1
    var done = false
    while (r <= k && !done) {
      // arrays_zip (a plain codegen'd expression), NOT zip_with (a
      // CodegenFallback higher-order function) — the pair extraction is
      // the per-round hot path
      val a = col("toks")
      val pairs = arrays_zip(
        slice(a, lit(1), greatest(size(a) - 1, lit(0))).as("l"),
        slice(a, lit(2), greatest(size(a) - 1, lit(0))).as("r"))
      val best = encoded.select(explode(pairs).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("lhs"), col("rhs")).limit(1).collect()
      if (best.isEmpty) done = true
      else {
        merges += ((r.toLong, best(0).getString(0), best(0).getString(1),
          best(0).getLong(2)))
        r += 1
      }
    }
    (merges.toSeq, encoded)
  }

  /** SAMPLE-THINNED BPE training — the 100 TB trainer path (sim14/
    * sim16's discipline applied to the tokenizer): the k count→argmax→
    * rewrite rounds run over a corpus thinned by the PORTABLE md5 hash
    * at 1-in-`rate` docs (md5, never xxhash64 — the merge table is a
    * stored artifact, so the sampling decision must be oracle-
    * replayable), while ENCODE ([[bpeEncodeWithMerges]], t18's other
    * half) still covers the full corpus exactly. Deterministic: same
    * corpus + same rate ⇒ the same merge table, bit-for-bit
    * (T11SampledSpec), and rate=1 IS the registry t11 trainer. The
    * registry t11/t18 queries stay full-corpus and oracle-gated; this
    * is the production knob for the O(k·corpus) training cost the r13
    * audit flagged (t11/t18 were the slowest text family).
    *
    * MEASURED (ScaleProbe `sample:bpe` arm, last at commit 561c6b9;
    * sf0.1 10× corpus = 600k docs, warm,
    * r15 array-form trainer): full train 11.15 s; rate=2 3.02 s (3.7×)
    * with 5/6 (lhs, rhs) merges agreeing; rate=10 1.57 s (7.1×) with
    * 0/6 (the r14 exploded-window trainer measured 17.6/7.2/4.1 s on
    * the same corpus). The split is not noise —
    * it is the honest sizing rule for this knob: the synthetic corpus's
    * pair frequencies are near-FLAT (full top-6 counts 3570..3410, an
    * argmax margin of 1–2%), so the sample must keep its frequency
    * noise (~1/√(sampled pair count): ~1.6% at rate 2, ~5% at rate 10)
    * UNDER the margin or near-ties reorder. Zipfian natural text
    * separates early merges by far wider margins, which is why FAISS-
    * style bounded-sample training is standard there — but the rate is
    * a contract with the corpus's margin, not a free 10×, and the probe
    * measures exactly where this corpus breaks it.
    */
  private[graft] def bpeTrainSampled(s: SparkSession, d: String,
      rate: Long): Seq[(Long, String, String, Long)] = {
    require(rate >= 1L, "sample rate must be >= 1")
    val h = graft.functions.VectorFunctions.md5Prefix60(
      concat(col("doc_id").cast("string"), lit(":bpe")))
    val sampled = Tables.documents(s, d)
      .filter(if (rate == 1L) lit(true) else pmod(h, lit(rate)) === 0L)
    // a degenerate sample must be VISIBLE, not a silently weak tokenizer
    // artifact: an over-aggressive rate can thin the corpus until the
    // loop runs out of pairs (merges.size < t11K) or out of docs
    // entirely — and a stored empty/truncated merge table makes every
    // downstream encode a no-op with no signal. The diagnostics are
    // DEFERRED behind the truncation test so a healthy run pays no
    // extra corpus scan: empty is an error, truncated warns with the
    // sampled-doc count so the operator can size the rate against the
    // probe's noise-vs-margin rule.
    val merges = bpeLoopOf(sampled)._1
    if (merges.size < t11K) {
      val nSampled = sampled.count()
      require(nSampled > 0L,
        s"bpeTrainSampled: rate=$rate left zero docs — no merge table can be trained")
      System.err.println(s"[bpeTrainSampled] WARNING: rate=$rate kept only " +
        s"$nSampled docs and the merge loop dried up at ${merges.size}/" +
        s"$t11K merges — the stored table is truncated; lower the rate")
    }
    merges
  }

  /** ENCODE with a GIVEN merge table (the deployed-tokenizer path t18
    * folds into its loop): ONE map-only pass of the single-pass native
    * expression ([[graft.functions.VectorFunctions.bpeEncode]]) over the
    * full corpus — no pair counting, no argmax collect, no join, and
    * since r15 no per-merge corpus rewrite rounds either: encode cost is
    * independent of k (the r14 audit's last O(k·corpus) serving-side
    * term). MEASURED (ScaleProbe `bpe:encode` arm, last at commit
    * 561c6b9; sf0.1, warm, r15): the window replay it replaced 3.34 s
    * at k=6 → 6.00 s at k=12; the expression 0.12 s at both k. With the merge table
    * from the full-corpus trainer this is bit-identical to t18
    * (T11SampledSpec pins the factoring); with [[bpeTrainSampled]]'s
    * table it is the production configuration: train on the sample,
    * encode everything.
    */
  private[graft] def bpeEncodeWithMerges(s: SparkSession, d: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(s, d).select(col("doc_id"),
        size(toks).cast("long").as("n_before"),
        size(graft.functions.VectorFunctions.bpeEncode(toks, merges))
          .cast("long").as("n_after"))
      .select(col("doc_id"), col("n_before"), col("n_after"),
        expr("n_after * 1000000L div n_before").as("compression_ppm"))
      .orderBy("doc_id")
  }

  private def t11BpeMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeLoop(s, d)._1.toDF("merge_round", "lhs", "rhs", "pair_count")
      .orderBy("merge_round")
  }

  // the oracle replays the same k rounds, fully unrolled (one CTE block
  // per round — no recursion, so the statement is engine-portable);
  // shared chain: c0 = exploded corpus, c$t11K = the fully-merged corpus
  private val bpeSqlCtes: String = {
    val sb = new StringBuilder
    sb.append("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),\n")
    sb.append("c0 AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, toks[u.i] AS tok\n")
    sb.append("  FROM t, UNNEST(generate_series(1, len(toks))) u(i)),")
    for (r <- 1 to t11K) {
      val p = r - 1
      sb.append(s"""
w$r AS (SELECT doc_id, pos, tok,
    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM c$p),
best$r AS (SELECT tok AS lhs, nxt AS rhs, COUNT(*) AS c FROM w$r
  WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY c DESC, lhs, rhs LIMIT 1),
cand$r AS (SELECT w.doc_id, w.pos FROM w$r w, best$r b
  WHERE w.tok = b.lhs AND w.nxt = b.rhs),
sel$r AS (SELECT doc_id, pos FROM (
    SELECT doc_id, pos, pos - min(pos) OVER (PARTITION BY doc_id, grp) AS off
    FROM (SELECT doc_id, pos,
        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM cand$r)) WHERE off % 2 = 0),
j$r AS (SELECT c.doc_id, c.pos, c.tok, s.pos IS NOT NULL AS m,
    lag(s.pos IS NOT NULL) OVER (PARTITION BY c.doc_id ORDER BY c.pos) AS pm
  FROM c$p c LEFT JOIN sel$r s ON s.doc_id = c.doc_id AND s.pos = c.pos),
c$r AS (SELECT doc_id,
    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS BIGINT) AS pos,
    CASE WHEN m THEN (SELECT lhs || ' ' || rhs FROM best$r) ELSE tok END AS tok
  FROM j$r WHERE pm IS NULL OR NOT pm),""")
    }
    sb.toString.stripSuffix(",")
  }

  // MATERIALIZED: the unrolled k-round chain references each round's
  // corpus CTE from several successors — DuckDB's default re-inlining
  // made the oracle's cost compound per round (t18 measured ~520 s at
  // sf0.01; hinted, seconds — see OracleHints.materializeCtes)
  private val t11Sql: String = graft.OracleHints.materializeCtes(
    s"""$bpeSqlCtes,
       |m AS (${(1 to t11K).map(r =>
          s"SELECT CAST($r AS BIGINT) AS merge_round, lhs, rhs, " +
            s"CAST(c AS BIGINT) AS pair_count FROM best$r").mkString(" UNION ALL ")})
       |SELECT * FROM m ORDER BY merge_round""".stripMargin)

  // ---------------------------------------------------------------------
  // t18_bpe_encode — ENCODE with the trained merge table: the other half
  // of the tokenizer t11 trains. Applies all k merges to every document
  // (the identical rewrite loop — encode replays training's merge order,
  // Sennrich's construction) and reports the per-doc tokenization
  // result: token count before/after and the compression ratio in exact
  // ppm (after·10⁶ div before). A doc full of frequent pairs compresses
  // hard; one of rare tokens not at all — the per-doc signal a packing
  // (pk1) or curriculum (cur1) stage consumes as "token budget after
  // tokenization", not whitespace count.
  //
  // Scale: training cost is t11's (k pair-count shuffles + k 1-row
  // argmax collects — the counting is irreducible); the ENCODE half is
  // one map-only pass of the stacked single-pass expression on the
  // trainer's final frame, and the stats are in-row size() arithmetic —
  // no join, no window, no per-round corpus rewrite.
  private def t18BpeEncode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val after = bpeLoop(s, d)._2
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_after"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_before"))
      .join(after, Seq("doc_id"))
      .select(col("doc_id"), col("n_before"), col("n_after"),
        expr("n_after * 1000000L div n_before").as("compression_ppm"))
      .orderBy("doc_id")
  }

  private val t18Sql: String = graft.OracleHints.materializeCtes(
    s"""$bpeSqlCtes,
       |b AS (SELECT doc_id, COUNT(*) AS n_before FROM c0 GROUP BY 1),
       |a AS (SELECT doc_id, COUNT(*) AS n_after FROM c$t11K GROUP BY 1)
       |SELECT b.doc_id, CAST(n_before AS BIGINT) AS n_before,
       |  CAST(n_after AS BIGINT) AS n_after,
       |  n_after * 1000000 // n_before AS compression_ppm
       |FROM b JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------------
  // t12_bigram_lm — n-gram language-model fluency scoring (the KenLM-
  // style perplexity filter of CCNet/RefinedWeb, in exact-integer form):
  // train corpus bigram statistics, then score every document by the
  // mean conditional-probability of its bigrams, scaled to ppm.
  // P(w2|w1) = C(w1,w2)/C(w1·) is kept exact as `C(pair)·10⁶ div
  // C(prefix)` (t8's integer-ratio discipline — longs sum associatively,
  // no float-aggregation drift), so low-fluency (rare-transition) docs
  // rank identically on any executor count.
  //
  // Scale: bigram extraction is MAP-ONLY — `zip_with` over the split
  // array pairs each token with its successor inside the row, no per-doc
  // window shuffle (t11 needs the window because it REWRITES positions;
  // scoring doesn't). Then: one map-side-combined shuffle for C(w1,·),
  // one for C(w1,w2), a broadcast-or-shuffle join of the token stream
  // against the count tables (AQE decides — vocab² is data-dependent),
  // and one final map-side-combined per-doc sum. C(w1,·) is counted over
  // bigram STARTS (not raw tokens), so Σ_w2 P(w2|w1) = 1 exactly.
  private def t12BigramLm(s: SparkSession, d: String): DataFrame = {
    val a = split(col("text"), " ")
    val pairs = zip_with(
      slice(a, lit(1), greatest(size(a) - 1, lit(0))),
      slice(a, lit(2), greatest(size(a) - 1, lit(0))),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    val bi = Tables.documents(s, d)
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uni = bi.groupBy("w1").agg(count(lit(1)).as("cw1"))
    val cnt = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cp"))
    bi.join(cnt, Seq("w1", "w2")).join(uni, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("cp * 1000000L div cw1")).as("score_sum_ppm"))
      .withColumn("fluency_ppm", expr("score_sum_ppm div n_bigrams"))
      .orderBy("doc_id")
  }

  private val t12Sql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi AS (SELECT doc_id, toks[u.i] AS w1, toks[u.i + 1] AS w2
      |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) u(i)),
      |uni AS (SELECT w1, COUNT(*) AS cw1 FROM bi GROUP BY 1),
      |cnt AS (SELECT w1, w2, COUNT(*) AS cp FROM bi GROUP BY 1, 2)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(c.cp * 1000000 // u.cw1) AS BIGINT) AS score_sum_ppm,
      |  CAST(SUM(c.cp * 1000000 // u.cw1) // COUNT(*) AS BIGINT) AS fluency_ppm
      |FROM bi b JOIN cnt c ON b.w1 = c.w1 AND b.w2 = c.w2
      |  JOIN uni u ON b.w1 = u.w1
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t13_heavy_hitters — exact corpus heavy hitters WITHOUT a full
  // group-by over the vocabulary: a Misra–Gries candidate sketch (native
  // partial-aggregable TypedImperativeAggregate, ≤64 counters leave each
  // map task — O(tasks·64) shuffle where groupBy(term) shuffles
  // O(distinct terms)), then the dedup suite's candidates-then-verify
  // discipline: semi-join the token stream to the candidate set and
  // recount EXACTLY, keeping terms with frequency > n/32 (capacity 64 >
  // 31 guarantees no heavy item is missed; sketch extras are
  // run-dependent but die in the exact filter, so the output is the
  // exact answer). The md5-derived item key keeps the sketch domain
  // engine-portable; a hash collision can only ADD a candidate term,
  // which the exact recount then judges on its own true count.
  private def t13HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
    val withH = toks.select(col("term"),
      graft.functions.VectorFunctions.md5Prefix60(col("term")).as("h"))
    val cand = withH
      .agg(graft.functions.VectorFunctions.misraGries(col("h"), 64).as("cand"))
      .select(explode(col("cand")).as("h"))
    val tot = toks.agg(count(lit(1)).as("n_total"))
    withH.join(cand, Seq("h"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") * 32L > col("n_total"))
      .select(col("term"), col("cnt"), col("n_total"))
      .orderBy(col("cnt").desc, col("term"))
  }

  private val t13Sql =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |tot AS (SELECT COUNT(*) AS n_total FROM tok)
      |SELECT term, COUNT(*) AS cnt, n_total
      |FROM tok CROSS JOIN tot
      |GROUP BY term, n_total HAVING COUNT(*) * 32 > n_total
      |ORDER BY cnt DESC, term""".stripMargin

  // ---------------------------------------------------------------------
  // t14_incremental_vocab — incremental corpus-statistics maintenance:
  // merge a NEW DOCUMENT BATCH's term stats into STORED corpus stats
  // without re-reading the corpus — the stats-side member of the
  // batch-vs-stored-index family (dd11 = dedup, sim9 = ANN). Batch =
  // every 5th doc (the family's convention); the stored side is the
  // remaining corpus' (term, tf, df) frame, localCheckpointed to stand
  // for the warehouse stats table a nightly ingest maintains. The merge
  // is a union + one map-side-combined groupBy SUM — O(batch vocab +
  // stored vocab), the corpus token stream is never re-scanned. The
  // CORRECTNESS CLAIM the oracle pins: merged stats are bit-identical
  // to recomputing t9-style stats over the full corpus (tf and df are
  // both sums over disjoint doc sets, so the merge is exact — this is
  // why tf/df-based pipelines CAN be incremental while quantile-based
  // ones need sketches).
  private def t14IncrementalVocab(s: SparkSession, d: String): DataFrame = {
    val isNew = col("doc_id") % 5 === 0
    def stats(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("n"))
      .groupBy("term").agg(sum(col("n")).as("tf"), count(lit(1)).as("df"))
    val stored = stats(Tables.documents(s, d).filter(!isNew)).localCheckpoint()
    val batch = stats(Tables.documents(s, d).filter(isNew))
    stored.unionByName(batch)
      .groupBy("term")
      .agg(sum("tf").as("tf"), sum("df").as("df"))
      .orderBy(col("tf").desc, col("term"))
  }

  // the oracle recomputes from the FULL corpus in one pass — the merge
  // must be indistinguishable from a from-scratch rebuild
  private val t14Sql =
    """WITH td AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |g AS (SELECT term, doc_id, COUNT(*) AS n FROM td GROUP BY 1, 2)
      |SELECT term, CAST(SUM(n) AS BIGINT) AS tf, COUNT(*) AS df
      |FROM g GROUP BY term ORDER BY tf DESC, term""".stripMargin

  // ---------------------------------------------------------------------
  // search1_bm25 — BM25-style query-relevance ranking over the corpus,
  // in EXACT RATIONAL arithmetic (the determinism contract forbids ln,
  // so the idf is the rational (N−df)/df instead of log((N−df+.5)/(df+.5))
  // — same ordering for a fixed query, exactly replayable; it is CAPPED
  // at 100 so the integer range stays bounded where log idf would have
  // compressed it). k1 = 1.2 and b = 0.75 are folded through as the
  // exact rationals 6/5 and 3/4; with avgdl = ⌊T/N⌋ the classic
  //   tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  // becomes (22·tf·avg·10⁶) div (10·tf·avg + 3·avg + 9·dl) — every
  // factor document-length-scaled, so the int64 bound holds at ANY
  // corpus size (avg < 3·10⁸ tokens/doc, N < 9·10¹² docs).
  //
  // Scale: tokenize map-side; tf is one map-side-combined (doc, term)
  // shuffle RESTRICTED to query terms (the isin pushes into the scan
  // stage); df and the corpus totals are broadcast 1-to-3-row frames;
  // dl joins on doc_id; final ranking is a distributed TakeOrdered(20).
  /** search1's per-doc BM25 scored frame (pre-ranking): doc_id,
    * score_ppm, n_terms for docs matching any query term. Shared by
    * search1 (top-20 list) and search5 (the lexical leg of the hybrid
    * fusion).
    */
  private[operators] def bm25DocScores(s: SparkSession, d: String): DataFrame = {
    // r20 (§2.3/§2.4): dl and the query-term tfs ride ONE tokenize +
    // groupBy(doc_id) — the old shape scanned + tokenized the corpus
    // TWICE (dl leg, tf leg) and joined them back; the fixed 3-term
    // query makes per-term conditional sums a constant-width aggregate,
    // dl rides each row so the tf⋈dl join disappears. tf>0 rows after
    // the explode are exactly the old (doc, term) groups; all BM25
    // arithmetic is unchanged, so score_ppm/n_terms are bit-identical.
    val qTerms = queryTerms
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dl"),
        qTerms.zipWithIndex.map { case (t, i) =>
          sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf$i")
        }: _*)
      .localCheckpoint() // 2 consumers: totals + the per-term rows
    val totals = perDoc.agg(sum("dl").as("tt"), count(lit(1)).as("n"))
    val tf = perDoc.select(col("doc_id"), col("dl"),
        explode(array(qTerms.zipWithIndex.map { case (t, i) =>
          struct(lit(t).as("term"), col(s"tf$i").as("tf"))
        }: _*)).as("x"))
      .select(col("doc_id"), col("dl"), col("x.term").as("term"), col("x.tf").as("tf"))
      .filter(col("tf") > 0L)
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dft), "term")
      .crossJoin(broadcast(totals))
      .withColumn("avg", expr("tt div n"))
      .withColumn("tfn_ppm",
        expr("(22L * tf * avg * 1000000L) div (10L * tf * avg + 3L * avg + 9L * dl)"))
      .withColumn("idf_ppm",
        least(expr("((n - df) * 1000000L) div df"), lit(100000000L)))
      .withColumn("s_ppm", expr("(tfn_ppm * idf_ppm) div 1000000L"))
      .groupBy("doc_id")
      .agg(sum("s_ppm").as("score_ppm"), count(lit(1)).as("n_terms"))
  }

  private def search1Bm25(s: SparkSession, d: String): DataFrame =
    bm25DocScores(s, d)
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(20)

  /** search1's BM25 scoring CTE chain, ending in `lexsc` (doc_id,
    * score_ppm, n_terms) — the SQL twin of [[bm25DocScores]], shared by
    * the search1 and search5 oracles.
    */
  private[operators] val bm25ScoresSqlCtes =
    """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
      |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS tt, COUNT(*) AS n FROM dl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
      |  WHERE term IN ('hash', 'join', 'scan') GROUP BY doc_id, term),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |sc AS (SELECT tf.doc_id,
      |    (22 * tf.tf * (tt // n) * 1000000)
      |      // (10 * tf.tf * (tt // n) + 3 * (tt // n) + 9 * dl.dl) AS tfn_ppm,
      |    LEAST(((n - df) * 1000000) // df, 100000000) AS idf_ppm
      |  FROM tf JOIN dft ON tf.term = dft.term
      |    JOIN dl ON tf.doc_id = dl.doc_id
      |    CROSS JOIN tot),
      |lexsc AS (SELECT doc_id,
      |  CAST(SUM((tfn_ppm * idf_ppm) // 1000000) AS BIGINT) AS score_ppm,
      |  COUNT(*) AS n_terms
      |FROM sc GROUP BY doc_id)""".stripMargin

  private val search1Sql =
    s"""WITH $bm25ScoresSqlCtes
      |SELECT doc_id, score_ppm, n_terms
      |FROM lexsc
      |ORDER BY score_ppm DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // search2_phrase — exact phrase search ("hash join", adjacency-exact)
  // via a POSITIONAL index: posexplode the token stream, keep the two
  // query terms' postings, and join them on (doc, pos+1 = pos) — the
  // classic positional-inverted-index phrase query, generalizing to
  // k-term phrases as a k−1-way chain. Emits per-doc phrase frequency
  // plus the first match position (both exact ints).
  //
  // Scale: the postings frame is filtered to the query terms BEFORE the
  // join (term pruning in the scan stage, like search1's tf shuffle),
  // so the join is |postings(t1)| ⋈ |postings(t2)| on (doc_id, pos) —
  // never the full token stream. One shuffle per side.
  private def search2Phrase(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val a = toks.filter(col("term") === "hash")
      .select(col("doc_id"), col("pos").cast("long").as("pa"))
    val b = toks.filter(col("term") === "join")
      .select(col("doc_id"), col("pos").cast("long").as("pb"))
    a.join(b, a("doc_id") === b("doc_id") && col("pb") === col("pa") + 1L)
      .groupBy(a("doc_id"))
      .agg(count(lit(1)).as("phrase_count"), min(col("pa")).as("first_pos"))
      .orderBy(col("phrase_count").desc, col("doc_id"))
  }

  private val search2Sql =
    """WITH toks AS (SELECT doc_id, u.i - 1 AS pos, t.parts[u.i] AS term
      |  FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) t,
      |    UNNEST(generate_series(1, len(t.parts))) u(i)),
      |a AS (SELECT doc_id, CAST(pos AS BIGINT) AS pa FROM toks WHERE term = 'hash'),
      |b AS (SELECT doc_id, CAST(pos AS BIGINT) AS pb FROM toks WHERE term = 'join')
      |SELECT a.doc_id, COUNT(*) AS phrase_count, MIN(pa) AS first_pos
      |FROM a JOIN b ON a.doc_id = b.doc_id AND pb = pa + 1
      |GROUP BY a.doc_id
      |ORDER BY phrase_count DESC, a.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // search3_incremental_index — nightly inverted-index refresh: merge a
  // new document batch's postings statistics (document frequency + term
  // frequency) into a STORED index without rescanning the old corpus —
  // the search-side twin of dd11's batch-vs-stored-index dedup and
  // sim9's incremental ANN (same convention: batch = doc_id % 5 == 0,
  // index = the rest, checkpointed to stand for the stored stats table
  // that production maintains per ingest). Output is the UPDATED rows
  // only — one per term touched by the batch, with old/new/total df and
  // the merged tf — exactly what an upsert into the stats table writes.
  //
  // Scale: per-ingest work is O(batch): batch postings aggregate in one
  // map-side-combined shuffle over batch tokens only, and the merge
  // join reads stored rows solely for batch terms (at 100 TB the stored
  // side is term-bucketed so the join co-locates without a full
  // shuffle; a bloom filter of batch terms prunes its scan). The stored
  // stats build itself is the one-time index construction, amortized
  // across ingests.
  private def search3IncrementalIndex(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val isNew = col("doc_id") % 5 === 0
    // the stored index-stats table (built once per corpus, not per batch)
    val stored = toks.filter(!isNew)
      .groupBy("term")
      .agg(countDistinct("doc_id").as("df_old"), count(lit(1)).as("tf_old"))
      .localCheckpoint()
    // per-batch work starts here
    val batch = toks.filter(isNew)
      .groupBy("term")
      .agg(countDistinct("doc_id").as("df_new"), count(lit(1)).as("tf_new"))
    batch.join(stored, Seq("term"), "left")
      .select(col("term"),
        coalesce(col("df_old"), lit(0L)).as("df_old"),
        col("df_new"),
        (coalesce(col("df_old"), lit(0L)) + col("df_new")).as("df_total"),
        (coalesce(col("tf_old"), lit(0L)) + col("tf_new")).as("tf_total"))
      .orderBy("term")
  }

  private val search3Sql =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |ob AS (SELECT term, COUNT(DISTINCT doc_id) AS df_old, COUNT(*) AS tf_old
      |  FROM toks WHERE doc_id % 5 <> 0 GROUP BY 1),
      |nb AS (SELECT term, COUNT(DISTINCT doc_id) AS df_new, COUNT(*) AS tf_new
      |  FROM toks WHERE doc_id % 5 = 0 GROUP BY 1)
      |SELECT nb.term,
      |  CAST(COALESCE(ob.df_old, 0) AS BIGINT) AS df_old,
      |  CAST(nb.df_new AS BIGINT) AS df_new,
      |  CAST(COALESCE(ob.df_old, 0) + nb.df_new AS BIGINT) AS df_total,
      |  CAST(COALESCE(ob.tf_old, 0) + nb.tf_new AS BIGINT) AS tf_total
      |FROM nb LEFT JOIN ob ON nb.term = ob.term
      |ORDER BY nb.term""".stripMargin

  // ---------------------------------------------------------------------
  // t15_lm_quality — CCNet-style LM quality binning: train the bigram
  // LM on a clean REFERENCE subset (lang = 'en', standing for the
  // wikipedia-quality corpus CCNet trains KenLM on), score EVERY
  // document by mean conditional bigram probability (t12's exact-ppm
  // discipline; unseen bigrams back off to 0), then split the corpus
  // into head/middle/tail TERCILES of the score — the
  // perplexity-bucket partition that decides which slice of a crawl
  // feeds training. bucket = 1 + 3·|{docs with strictly higher
  // score}| div N, so tied scores share a bucket deterministically.
  //
  // Scale: scoring is t12's plan (map-side bigrams, two count shuffles
  // against the REFERENCE subset only, one join + per-doc sum). The
  // tercile cut does NOT global-sort the corpus: score_ppm lives in the
  // BOUNDED domain [0, 10⁶], so an exact quantile needs only a
  // score-value histogram (≤10⁶+1 rows regardless of corpus size), one
  // running sum over that bounded frame, and a broadcast join back —
  // the bounded-domain exact-quantile plan, vs ntile()'s
  // single-partition sort of all N rows.
  private def t15LmQuality(s: SparkSession, d: String): DataFrame = {
    val a = split(col("text"), " ")
    val pairs = zip_with(
      slice(a, lit(1), greatest(size(a) - 1, lit(0))),
      slice(a, lit(2), greatest(size(a) - 1, lit(0))),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    val docs = Tables.documents(s, d)
    val bi = docs.select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val refBi = docs.filter(col("lang") === "en")
      .select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uni = refBi.groupBy("w1").agg(count(lit(1)).as("cw1"))
    val cnt = refBi.groupBy("w1", "w2").agg(count(lit(1)).as("cp"))
    val perDoc = bi
      .join(cnt, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nb"),
        sum(expr("coalesce(cp, 0L) * 1000000L div coalesce(cw1, 1L)")).as("ssum"))
    val scored = docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        coalesce(expr("ssum div nb"), lit(0L)).as("score_ppm"))
    val tot = scored.agg(count(lit(1)).as("n_docs"))
    val hist = scored.groupBy("score_ppm").agg(count(lit(1)).as("hc"))
    val wh = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_ppm").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cut = hist.select(col("score_ppm"),
      coalesce(sum(col("hc")).over(wh), lit(0L)).as("n_higher"))
    scored.join(broadcast(cut), Seq("score_ppm"))
      .crossJoin(broadcast(tot))
      .withColumn("quality_bucket", expr("1L + n_higher * 3L div n_docs"))
      .select(col("doc_id"), col("n_bigrams"), col("score_ppm"),
        col("quality_bucket"))
      .orderBy("doc_id")
  }

  private val t15Sql =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |bi AS (SELECT doc_id, toks[u.i] AS w1, toks[u.i + 1] AS w2
      |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) u(i)),
      |rbi AS (SELECT toks[u.i] AS w1, toks[u.i + 1] AS w2
      |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) u(i) WHERE lang = 'en'),
      |uni AS (SELECT w1, COUNT(*) AS cw1 FROM rbi GROUP BY 1),
      |cnt AS (SELECT w1, w2, COUNT(*) AS cp FROM rbi GROUP BY 1, 2),
      |pd AS (SELECT b.doc_id, COUNT(*) AS nb,
      |    CAST(SUM(COALESCE(c.cp, 0) * 1000000 // COALESCE(u.cw1, 1)) AS BIGINT) AS ssum
      |  FROM bi b LEFT JOIN cnt c ON b.w1 = c.w1 AND b.w2 = c.w2
      |    LEFT JOIN uni u ON b.w1 = u.w1
      |  GROUP BY 1),
      |sc AS (SELECT d.doc_id,
      |    CAST(COALESCE(pd.nb, 0) AS BIGINT) AS n_bigrams,
      |    CAST(COALESCE(pd.ssum // pd.nb, 0) AS BIGINT) AS score_ppm
      |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id),
      |tot AS (SELECT COUNT(*) AS n_docs FROM sc),
      |hist AS (SELECT score_ppm, COUNT(*) AS hc FROM sc GROUP BY 1),
      |cut AS (SELECT score_ppm, COALESCE(SUM(hc) OVER (ORDER BY score_ppm DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_higher
      |  FROM hist)
      |SELECT sc.doc_id, sc.n_bigrams, sc.score_ppm,
      |  CAST(1 + n_higher * 3 // n_docs AS BIGINT) AS quality_bucket
      |FROM sc JOIN cut ON sc.score_ppm = cut.score_ppm CROSS JOIN tot
      |ORDER BY sc.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t16_pmi_collocations — collocation mining: rank word bigrams by
  // pointwise mutual information and emit the top 50 (min pair count 5
  // — the standard noise floor). The RANKING score is the PMI kernel
  // c_xy / (c_x·c_y): the N²/M constants in full PMI are pair-
  // independent and drop out of the order, and log is monotone, so
  // ranking by the kernel IS ranking by PMI. Computed as floor(10⁹ ·
  // c_xy / (c_x·c_y)) in IEEE doubles — exact-int inputs (counts ≪
  // 2⁵³), one multiply + one divide + floor, bit-identical in both
  // engines (the cos_e6 discipline); an all-int64 form would overflow
  // at corpus scale (c_xy·10⁹ passes 2⁶³ once a pair occurs ~10¹⁰
  // times).
  //
  // Scale: bigram extraction is t12's map-only zip_with; c_xy and c_x
  // are map-side-combined count shuffles; the score join runs on the
  // VOCAB-sized pair-count frame (never the token stream) with the
  // unigram side broadcast-or-hash by AQE; final ranking is a
  // distributed TakeOrdered(50).
  private def t16PmiCollocations(s: SparkSession, d: String): DataFrame = {
    val a = split(col("text"), " ")
    val pairs = zip_with(
      slice(a, lit(1), greatest(size(a) - 1, lit(0))),
      slice(a, lit(2), greatest(size(a) - 1, lit(0))),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    val bi = Tables.documents(s, d)
      .select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uni = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val cxy = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 5L)
    cxy
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .withColumn("score_e9", floor(lit(1e9) * col("c_xy").cast("double") /
        (col("c_x").cast("double") * col("c_y").cast("double"))).cast("long"))
      .select("w1", "w2", "c_xy", "c_x", "c_y", "score_e9")
      .orderBy(col("score_e9").desc, col("w1"), col("w2"))
      .limit(50)
  }

  private val t16Sql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi AS (SELECT toks[u.i] AS w1, toks[u.i + 1] AS w2
      |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) u(i)),
      |uni AS (SELECT unnest(toks) AS w FROM t),
      |uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
      |cxy AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2
      |  HAVING COUNT(*) >= 5)
      |SELECT cxy.w1, cxy.w2, c_xy,
      |  a.c AS c_x, b.c AS c_y,
      |  CAST(FLOOR(1e9 * CAST(c_xy AS DOUBLE) /
      |    (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))) AS BIGINT) AS score_e9
      |FROM cxy JOIN uc a ON cxy.w1 = a.w JOIN uc b ON cxy.w2 = b.w
      |ORDER BY score_e9 DESC, cxy.w1, cxy.w2 LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // t17_textrank_keywords — TextRank keyword extraction (Mihalcea &
  // Tarau 2004): PageRank over the word co-occurrence graph (content
  // words, length ≥ 4, co-occurring within a ±2 window in any doc; one
  // undirected unweighted edge per distinct word pair), 3 fixed rounds
  // of gr1's exact ppm-integer damped update (r₀ = 10⁶; r' = 150000 +
  // 17·Σ(rank div outdeg) div 20), global top-30 keywords by final
  // rank. The graph-based salience ranker that tf-idf-style scoring
  // (t8/t9) cannot express — a word ranks high for sitting between
  // well-connected words, not for raw frequency.
  //
  // Scale (gr1's loop discipline on a text graph): tokens shuffle once
  // into distinct (src, dst) edges keyed by xxhash64 LONGS, not strings
  // (word strings re-join only for the final 30 rows); each round is
  // ONE dst-shuffle of a node-sized rank frame + a localCheckpoint
  // lineage cut; the driver iterates a fixed round count (actions,
  // never rows); final ranking is a distributed TakeOrdered(30). The
  // oracle replays the identical integer arithmetic on word strings —
  // equality holds unless xxhash64 collides inside the corpus vocab
  // (dd2's documented caveat class). A hub word at every other position
  // of 50k docs is no skew cliff (ScaleProbe `skew:t17` arm, last at
  // commit 561c6b9): uniform 12.75 s, hub 7.99 s — the hub's pairs
  // combine map-side.
  private val trRounds = 3
  private def t17TextrankKeywords(s: SparkSession, d: String): DataFrame = {
    // window-2 co-occurrence is ROW-LOCAL: token (i, i+k) adjacency is a
    // zip of the split array with its own k-shifted slice (arrays_zip —
    // plain codegen, not the CodegenFallback zip_with), exploded and
    // length-filtered in the same map stage — no (doc_id, i) exchange,
    // no self-join, no token-frame checkpoint (the previous shape paid
    // two equi joins over a 3×-referenced checkpointed token frame).
    // Emitted pairs are identical: original positions at distance 1–2,
    // both words ≥ 4 chars, hash-distinct.
    val a = split(col("text"), " ")
    val pairs = Seq(1, 2).map { k =>
      Tables.documents(s, d)
        .select(explode(arrays_zip(
          slice(a, lit(1), greatest(size(a) - k, lit(0))).as("l"),
          slice(a, lit(k + 1), greatest(size(a) - k, lit(0))).as("r"))).as("p"))
        .filter(length(col("p.l")) >= 4 && length(col("p.r")) >= 4)
        .select(xxhash64(col("p.l")).as("ha"), xxhash64(col("p.r")).as("hb"))
        .filter(col("ha") =!= col("hb"))
    }.reduce(_ unionByName _).distinct()
    // outdeg rides each edge row via ONE count window (the edge⋈deg
    // join is loop-invariant — paid once, not per round), and the FIXED
    // round count composes into a single plan run by the final action
    // (GraphOps.gr1's shape): no per-round checkpoint barrier, one
    // checkpoint scanned per round
    val cdeg = pairs.select(col("ha").as("src"), col("hb").as("dst"))
      .unionByName(pairs.select(col("hb").as("src"), col("ha").as("dst")))
      .distinct()
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint() // scanned every round
    var ranks = cdeg.select(col("src").as("id")).distinct()
      .withColumn("rank_ppm", lit(1000000L))
    for (_ <- 1 to trRounds) {
      ranks = cdeg
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("rank_ppm div outdeg").as("contrib"))
        .groupBy("id")
        .agg(sum(col("contrib")).as("sc"))
        .select(col("id"), expr("150000L + (17L * sc) div 20L").as("rank_ppm"))
    }
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 4)
      .select(xxhash64(col("w")).as("id"), col("w").as("word")).distinct()
    ranks.join(words, "id")
      .select(col("word"), col("rank_ppm"))
      .orderBy(col("rank_ppm").desc, col("word"))
      .limit(30)
  }

  private val t17Sql = {
    val steps = (1 to trRounds).map { i =>
      s"""c$i AS (SELECT e.dst AS id, CAST(SUM(r.rank_ppm // dg.outdeg) AS BIGINT) AS sc
         |  FROM e JOIN deg dg ON e.src = dg.src JOIN r${i - 1} r ON e.src = r.id
         |  GROUP BY e.dst),
         |r$i AS (SELECT id, 150000 + (17 * sc) // 20 AS rank_ppm FROM c$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (
       |  SELECT doc_id, u.i AS i, toks[u.i] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
       |    UNNEST(generate_series(1, len(toks))) u(i)
       |  WHERE length(toks[u.i]) >= 4),
       |pairs AS (SELECT DISTINCT a.w AS wa, b.w AS wb
       |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id
       |    AND b.i - a.i IN (1, 2) AND a.w <> b.w),
       |e AS (SELECT wa AS src, wb AS dst FROM pairs
       |      UNION SELECT wb, wa FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS rank_ppm FROM deg),
       |$steps
       |SELECT id AS word, rank_ppm FROM r$trRounds
       |ORDER BY rank_ppm DESC, word LIMIT 30""".stripMargin
  }

  // search4_chunk_bm25 — retrieval at the pk6 CHUNK grain: search1's
  // exact-rational BM25 rescored over TrainPrep.pk6TokenChunks'
  // overlapping 64-token windows, returning the top-20 chunks — the
  // retrieval layer a RAG system actually queries (a whole-doc hit says
  // "somewhere in 300 tokens"; the chunk hit IS the passage, and the
  // 16-token overlap guarantees a straddling span scores intact in one
  // of them). Same k1=6/5, b=3/4 folded rationals and capped rational
  // idf as search1 — but over chunk dl ≤ 64, where the length
  // normalization genuinely discriminates (every chunk dl is comparable,
  // unlike doc lengths). df counts CHUNKS containing the term, the
  // BM25 convention when the chunk is the retrieval unit.
  //
  // Scale: the membership frame is token-grain narrow ×≤2 (pk6's
  // bound); tf is one map-side-combined (doc, chunk, term) shuffle
  // restricted to the query terms in the scan stage; df/totals are
  // broadcast scalars; final ranking a distributed TakeOrdered(20).
  /** search4's per-chunk BM25 scored frame (pre-ranking): (doc_id, k,
    * score_ppm, n_terms) for chunks matching any query term. Shared by
    * search4 (top-20 list) and search6 (the lexical leg of the
    * chunk-grain hybrid fusion).
    */
  private[operators] def chunkBm25Scores(s: SparkSession, d: String): DataFrame = {
    // r20 (§2.3/§2.4): same one-pass fusion as bm25DocScores — chunk dl
    // and the query-term tfs from ONE chunk-tokenize + groupBy(doc, k)
    // (was: two full pk6TokenChunks derivations joined back); tf>0 rows
    // equal the old (doc, k, tok) groups, arithmetic unchanged.
    val qTerms = queryTerms
    val perChunk = graft.operators.TrainPrep.pk6TokenChunks(s, d)
      .groupBy("doc_id", "k")
      .agg(count(lit(1)).as("dl"),
        qTerms.zipWithIndex.map { case (t, i) =>
          sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf$i")
        }: _*)
      .localCheckpoint() // 2 consumers: totals + the per-term rows
    val totals = perChunk.agg(sum("dl").as("tt"), count(lit(1)).as("n"))
    val tf = perChunk.select(col("doc_id"), col("k"), col("dl"),
        explode(array(qTerms.zipWithIndex.map { case (t, i) =>
          struct(lit(t).as("tok"), col(s"tf$i").as("tf"))
        }: _*)).as("x"))
      .select(col("doc_id"), col("k"), col("dl"),
        col("x.tok").as("tok"), col("x.tf").as("tf"))
      .filter(col("tf") > 0L)
    val dft = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dft), "tok")
      .crossJoin(broadcast(totals))
      .withColumn("avg", expr("tt div n"))
      .withColumn("tfn_ppm",
        expr("(22L * tf * avg * 1000000L) div (10L * tf * avg + 3L * avg + 9L * dl)"))
      .withColumn("idf_ppm",
        least(expr("((n - df) * 1000000L) div df"), lit(100000000L)))
      .withColumn("s_ppm", expr("(tfn_ppm * idf_ppm) div 1000000L"))
      .groupBy(col("doc_id"), col("k"))
      .agg(sum("s_ppm").as("score_ppm"), count(lit(1)).as("n_terms"))
  }

  private def search4ChunkBm25(s: SparkSession, d: String): DataFrame =
    chunkBm25Scores(s, d)
      .withColumnRenamed("k", "chunk_id")
      .orderBy(col("score_ppm").desc, col("doc_id"), col("chunk_id"))
      .limit(20)

  private val search4Sql = graft.OracleHints.materializeCtes(
    s"""WITH ${graft.operators.TrainPrep.pk6ChunkCtes},
      |dl AS (SELECT doc_id, k, COUNT(*) AS dl FROM m GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS tt, COUNT(*) AS n FROM dl),
      |tf AS (SELECT doc_id, k, tok, COUNT(*) AS tf FROM m
      |  WHERE tok IN ('hash', 'join', 'scan') GROUP BY 1, 2, 3),
      |dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      |sc AS (SELECT tf.doc_id, tf.k,
      |    (22 * tf.tf * (tt // n) * 1000000)
      |      // (10 * tf.tf * (tt // n) + 3 * (tt // n) + 9 * dl.dl) AS tfn_ppm,
      |    LEAST(((n - df) * 1000000) // df, 100000000) AS idf_ppm
      |  FROM tf JOIN dft ON tf.tok = dft.tok
      |    JOIN dl ON tf.doc_id = dl.doc_id AND tf.k = dl.k
      |    CROSS JOIN tot)
      |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
      |  CAST(SUM((tfn_ppm * idf_ppm) // 1000000) AS BIGINT) AS score_ppm,
      |  COUNT(*) AS n_terms
      |FROM sc GROUP BY 1, 2
      |ORDER BY score_ppm DESC, doc_id, chunk_id LIMIT 20""".stripMargin)

  // ---------------------------------------------------------------------
  // search5_hybrid_rrf — hybrid retrieval: the lexical BM25 ranking
  // (search1's scored frame) fused with a semantic embedding ranking of
  // the same query by RECIPROCAL RANK FUSION (Cormack et al.'s
  // score-free fusion — the production hybrid-search default because it
  // needs no score calibration between incommensurable scales). One
  // user query with both forms: terms ("hash join scan") and an
  // embedding (vec_id 0 stands for the embedded query text; doc_id ≡
  // vec_id in this corpus). Each leg contributes 10⁶ div (60 + rank)
  // — integer division of the classic 1/(k+r), k=60 — so a doc near
  // the top of EITHER list outranks a doc mid-table in both, and a doc
  // in both lists beats one in a single list at comparable rank.
  // Docs absent from a leg contribute 0 from it (rank reported as 0).
  //
  // Scale: each leg is a top-20 — lexical via bm25DocScores (tf shuffle
  // restricted to query terms) + distributed TakeOrdered(20); semantic
  // here is the exact cosine scan (one broadcast query vector, map-side
  // dot + TakeOrdered — O(N) for ONE query only at gate scale), and the
  // fusion is list-shape-agnostic: at 100 TB the semantic leg IS
  // sim14's IVFPQ probe output (same (doc, rank) shape), swapped in
  // without touching the fusion. The fusion itself joins two ≤20-row
  // frames — broadcast, trivially. row_number windows run over ≤20
  // rows post-TakeOrdered (bounded, not a global sort).
  private def search5HybridRrf(s: SparkSession, d: String): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotLong _
    val wcos = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("doc_id"))
    val wlex = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_ppm").desc, col("doc_id"))
    val e = Similarity.scaledVectors(s, d)
    val qv = e.filter(col("vec_id") === 0L)
      .select(col("v").as("va"), col("nrm").as("na"))
    val sem = e.filter(col("vec_id") =!= 0L)
      .select(col("vec_id").as("doc_id"), col("v").as("vb"), col("nrm").as("nb"))
      .crossJoin(broadcast(qv))
      .withColumn("dot", dot(col("va"), col("vb")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .orderBy(col("cos").desc, col("doc_id")).limit(20)
      .withColumn("srank", row_number().over(wcos).cast("long"))
      .select("doc_id", "srank")
    val lex = bm25DocScores(s, d)
      .orderBy(col("score_ppm").desc, col("doc_id")).limit(20)
      .withColumn("lrank", row_number().over(wlex).cast("long"))
      .select("doc_id", "lrank")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr("1000000L div (60L + lrank)"), lit(0L)) +
          coalesce(expr("1000000L div (60L + srank)"), lit(0L)))
      .select(col("doc_id"), col("rrf_ppm"),
        coalesce(col("lrank"), lit(0L)).as("lex_rank"),
        coalesce(col("srank"), lit(0L)).as("sem_rank"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(15)
  }

  private val search5Sql = graft.OracleHints.materializeCtes(
    s"""WITH $bm25ScoresSqlCtes,
      |${graft.operators.Similarity.scaledVectorsSqlCte},
      |lexr AS (SELECT doc_id, lrank FROM (SELECT doc_id,
      |    row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS lrank
      |  FROM lexsc) WHERE lrank <= 20),
      |qv AS (SELECT v AS va, nrm AS na FROM e WHERE vec_id = 0),
      |semsc AS (SELECT e.vec_id AS doc_id, e.nrm AS nb, qv.na AS na,
      |  CAST((SELECT SUM(e.v[i] * qv.va[i]) FROM UNNEST(generate_series(1, 64)) t(i)) AS BIGINT) AS dot
      |  FROM e, qv WHERE e.vec_id <> 0),
      |semr AS (SELECT doc_id, srank FROM (SELECT doc_id,
      |    row_number() OVER (ORDER BY CAST(dot AS DOUBLE) /
      |      (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC, doc_id) AS srank
      |  FROM semsc) WHERE srank <= 20)
      |SELECT COALESCE(lexr.doc_id, semr.doc_id) AS doc_id,
      |  CAST(COALESCE(1000000 // (60 + lrank), 0)
      |     + COALESCE(1000000 // (60 + srank), 0) AS BIGINT) AS rrf_ppm,
      |  CAST(COALESCE(lrank, 0) AS BIGINT) AS lex_rank,
      |  CAST(COALESCE(srank, 0) AS BIGINT) AS sem_rank
      |FROM lexr FULL OUTER JOIN semr ON lexr.doc_id = semr.doc_id
      |ORDER BY rrf_ppm DESC, doc_id LIMIT 15""".stripMargin)

  // ---------------------------------------------------------------------
  // search6_hybrid_chunks — the full RAG retrieval stack END-TO-END at
  // the chunk grain, querying pipe6's stored index: the lexical leg is
  // search4's chunk BM25 top-20; the semantic leg hashes the SAME query
  // terms through t10's featurizer (query and corpus share one
  // embedder, trained or not — here the hashing trick), scores the k
  // broadcast centroids, probes nprobe = max(6, ⌈1.5·√k⌉) cells
  // (sim9's corpus-sized formula), and exact-cosine reranks only the
  // probed cells' chunks to a top-20; the two lists fuse by search5's
  // exact-integer RRF. This is the composition a production RAG system
  // runs per query — index scan bounded by the probe, both legs
  // bounded top-20s, fusion a ≤20-row full-outer join.
  //
  // Scale: per-query work is O(k + probed-cells' chunks) against the
  // stored index (pipe6Parts' checkpoints stand for the stored
  // tables); nothing corpus-sized is rescanned. The rank windows run
  // over ≤k / ≤20 rows (bounded). At 100 TB the semantic leg swaps to
  // sim14's IVFPQ codes over the same cell layout without touching the
  // fusion.
  private def search6HybridChunks(s: SparkSession, d: String): DataFrame =
    search6Fused(s, d)._1

  /** search6's fused frame PLUS the index parts it probed — search7
    * consumes both (the candidates and the vectors for pairwise MMR
    * sims) without rebuilding the index twice.
    */
  private[operators] def search6Fused(s: SparkSession, d: String)
      : (DataFrame, graft.operators.TrainPrep.Pipe6Parts) = {
    val parts = graft.operators.TrainPrep.pipe6Parts(s, d)
    (search6FusedCore(s, parts, chunkBm25Scores(s, d)), parts)
  }

  /** The per-query retrieval plan, parameterized on WHERE the index
    * lives: the registry twin passes pipe6Parts' in-plan checkpoints +
    * the corpus-derived BM25 frame (so the DuckDB oracle can replay
    * everything from raw tables); [[search6FromStore]] passes the same
    * frames read from a pinned Snapshots version — identical plan
    * downstream of the scans, bit-identical output (RagStoreSpec).
    */
  private def search6FusedCore(s: SparkSession,
      parts: graft.operators.TrainPrep.Pipe6Parts,
      lexScores: DataFrame): DataFrame = {
    import s.implicits._
    val nprobe = math.max(6, math.ceil(1.5 * math.sqrt(parts.kCells.toDouble)).toInt)
    val hm = graft.functions.VectorFunctions.md5Prefix60(col("tok"))
    // the query's dense hashed vector — one row, broadcast to both legs
    val qv = queryTerms.toDF("tok")
      .select(pmod(hm, lit(16L)).as("dim"),
        when(shiftright(hm, 4) % 2L === 0L, 1L).otherwise(-1L).as("sgn"))
      .groupBy()
      .agg(sum(when(col("dim") === 0, col("sgn")).otherwise(0L)).as("d0"),
        (1 until 16).map(i =>
          sum(when(col("dim") === i, col("sgn")).otherwise(0L)).as(s"d$i")): _*)
      .select(array((0 until 16).map(i => col(s"d$i")): _*).as("qv"))
      .withColumn("qnrm", graft.functions.VectorFunctions.normSqLong(col("qv")))
    val wProbe = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("cdoc"), col("ck"))
    val probed = parts.cent.crossJoin(broadcast(qv))
      .withColumn("dot", graft.functions.VectorFunctions.dotLong(col("vc"), col("qv")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("qnrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("cdoc").as("cell_doc"), col("ck").as("cell_k"))
    val cand = parts.index.join(broadcast(probed), Seq("cell_doc", "cell_k"))
      .select("doc_id", "k")
    val wSem = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("doc_id"), col("k"))
    val sem = parts.vecs.join(cand, Seq("doc_id", "k"))
      .crossJoin(broadcast(qv))
      .withColumn("dot", graft.functions.VectorFunctions.dotLong(col("va"), col("qv")))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("qnrm").cast("double")) * sqrt(col("vnrm").cast("double"))))
      .orderBy(col("cos").desc, col("doc_id"), col("k")).limit(20)
      .withColumn("srank", row_number().over(wSem).cast("long"))
      .select(col("doc_id"), col("k"), col("srank"))
    val wLex = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_ppm").desc, col("doc_id"), col("k"))
    val lex = lexScores
      .orderBy(col("score_ppm").desc, col("doc_id"), col("k")).limit(20)
      .withColumn("lrank", row_number().over(wLex).cast("long"))
      .select(col("doc_id"), col("k"), col("lrank"))
    lex.join(sem, Seq("doc_id", "k"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr("1000000L div (60L + lrank)"), lit(0L)) +
          coalesce(expr("1000000L div (60L + srank)"), lit(0L)))
      .select(col("doc_id"), col("k").as("chunk_id"), col("rrf_ppm"),
        coalesce(col("lrank"), lit(0L)).as("lex_rank"),
        coalesce(col("srank"), lit(0L)).as("sem_rank"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"), col("chunk_id"))
      .limit(15)
  }

  /** The stored-index halves of the from-store serving twins: pipe6's
    * published tables at a PINNED Snapshots version. cent is k rows — its
    * count (kCells, needed for the nprobe formula) is a bounded action.
    */
  private[operators] def ragPartsFromStore(s: SparkSession, root: String,
      version: Option[Long]): graft.operators.TrainPrep.Pipe6Parts = {
    val S = graft.sources.Snapshots
    val cent = S.readTable(s, root, "cent", version)
    graft.operators.TrainPrep.Pipe6Parts(
      S.readTable(s, root, "vecs", version), cent,
      S.readTable(s, root, "index", version), cent.count().toInt)
  }

  /** The lexical leg served from the stored postings: a tok-pruned
    * parquet scan (row-group min/max on the sorted tok column) yields
    * (tok, doc_id, k, tf, dl) for the query terms only; df re-derives
    * from that bounded frame (df = posting-row count per term, exact);
    * totals are the stored 1-row stats table. NO store-sized join or
    * scan per query — same score_ppm arithmetic as [[chunkBm25Scores]],
    * bit-identical output.
    */
  private def chunkBm25ScoresFromStore(s: SparkSession, root: String,
      version: Option[Long]): DataFrame = {
    val qTerms = queryTerms
    val S = graft.sources.Snapshots
    val tf = S.readTable(s, root, "postings", version)
      .filter(col("tok").isin(qTerms: _*))
    val dft = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val totals = S.readTable(s, root, "stats", version)
    tf.join(broadcast(dft), "tok")
      .crossJoin(broadcast(totals))
      .withColumn("avg", expr("tt div n"))
      .withColumn("tfn_ppm",
        expr("(22L * tf * avg * 1000000L) div (10L * tf * avg + 3L * avg + 9L * dl)"))
      .withColumn("idf_ppm",
        least(expr("((n - df) * 1000000L) div df"), lit(100000000L)))
      .withColumn("s_ppm", expr("(tfn_ppm * idf_ppm) div 1000000L"))
      .groupBy(col("doc_id"), col("k"))
      .agg(sum("s_ppm").as("score_ppm"), count(lit(1)).as("n_terms"))
  }

  /** search6 served from the published RAG store — the per-query plan a
    * production system runs: probe the stored cells, rerank the probed
    * chunks, scan the query terms' postings, fuse. The corpus is never
    * touched and no index work is in the plan. Pin `version` for
    * reproducible serving; None follows the committed latest.
    * Bit-identical to the registry search6 (RagStoreSpec; re-asserted at
    * 1× by ScaleProbe's `prod:search6` arm, last at commit 561c6b9).
    * MEASURED (sf0.1 base, warm, that arm on the collision-free 10×
    * corpus, r14 capture):
    * registry rebuild-in-plan 2.22 s vs from-store 0.85 s per query at
    * 1× — and 1.11 s at 10× STORE growth, near-FLAT: the serving cost
    * is the probe + two bounded top-20s over pruned scans, and the
    * index build a production query never pays is gone from the plan.
    */
  private[graft] def search6FromStore(s: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val pinned = Some(resolveRagVersion(s, root, version))
    search6FusedCore(s, ragPartsFromStore(s, root, pinned),
      chunkBm25ScoresFromStore(s, root, pinned))
  }

  /** Resolve the served version ONCE per query: the tables of one
    * serving plan must come from one snapshot — resolving latest per
    * readTable would let a concurrent publish flip the pointer mid-
    * construction and mix two versions, the exact inconsistency the
    * multi-table snapshot exists to prevent.
    */
  private def resolveRagVersion(s: SparkSession, root: String,
      version: Option[Long]): Long =
    version.orElse(graft.sources.Snapshots.latestVersion(s, root)).getOrElse(
      throw new IllegalStateException(s"no committed RAG store under $root"))

  /** search6's oracle chain (pipe6 index CTEs + both legs, ending at
    * `lexr`/`semr`) and its final fused select — split so search7's
    * oracle can reuse the whole retrieval stack as its candidate CTE.
    */
  private val search6Ctes =
    s"""${graft.operators.TrainPrep.pipe6IndexCtes},
      |qh AS (SELECT ('0x' || substring(md5(t.tok), 1, 15))::BIGINT AS hm
      |  FROM (VALUES ('hash'), ('join'), ('scan')) t(tok)),
      |qv2 AS (SELECT hm % 16 AS dim,
      |  CASE WHEN (hm // 16) % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM qh),
      |qw AS (SELECT dim, CAST(SUM(sgn) AS BIGINT) AS qwt FROM qv2
      |  GROUP BY 1 HAVING SUM(sgn) <> 0),
      |qn AS (SELECT CAST(SUM(qwt * qwt) AS BIGINT) AS qnrm FROM qw),
      |cdt AS (SELECT cv.cdoc, cv.ck, CAST(SUM(cv.cw * qw.qwt) AS BIGINT) AS dot
      |  FROM cv JOIN qw USING (dim) GROUP BY 1, 2),
      |prb AS (SELECT cdoc, ck FROM (SELECT cm.cdoc, cm.ck,
      |    row_number() OVER (ORDER BY CAST(COALESCE(cdt.dot, 0) AS DOUBLE) /
      |      (sqrt(CAST(qn.qnrm AS DOUBLE)) * sqrt(CAST(cm.cnrm AS DOUBLE))) DESC,
      |      cm.cdoc, cm.ck) AS prn
      |  FROM cm LEFT JOIN cdt ON cm.cdoc = cdt.cdoc AND cm.ck = cdt.ck CROSS JOIN qn)
      |  WHERE prn <= (SELECT GREATEST(6,
      |    CAST(ceil(1.5 * sqrt(ceil(sqrt(COUNT(*))))) AS BIGINT)) FROM vn)),
      |cnd AS (SELECT idx.doc_id, idx.k, idx.vnrm FROM idx
      |  JOIN prb ON idx.cell_doc = prb.cdoc AND idx.cell_k = prb.ck),
      |rdt AS (SELECT vw.doc_id, vw.k, CAST(SUM(vw.w * qw.qwt) AS BIGINT) AS dot
      |  FROM vw JOIN qw USING (dim) GROUP BY 1, 2),
      |semr AS (SELECT doc_id, k, srank FROM (SELECT cnd.doc_id, cnd.k,
      |    row_number() OVER (ORDER BY CAST(COALESCE(rdt.dot, 0) AS DOUBLE) /
      |      (sqrt(CAST(qn.qnrm AS DOUBLE)) * sqrt(CAST(cnd.vnrm AS DOUBLE))) DESC,
      |      cnd.doc_id, cnd.k) AS srank
      |  FROM cnd LEFT JOIN rdt ON cnd.doc_id = rdt.doc_id AND cnd.k = rdt.k
      |    CROSS JOIN qn)
      |  WHERE srank <= 20),
      |ltot AS (SELECT CAST(SUM(dl) AS BIGINT) AS tt, COUNT(*) AS n FROM dlc),
      |ltf AS (SELECT doc_id, k, tok, COUNT(*) AS tf FROM m
      |  WHERE tok IN ('hash', 'join', 'scan') GROUP BY 1, 2, 3),
      |ldft AS (SELECT tok, COUNT(*) AS df FROM ltf GROUP BY tok),
      |lsc AS (SELECT ltf.doc_id, ltf.k,
      |    (22 * ltf.tf * (tt // n) * 1000000)
      |      // (10 * ltf.tf * (tt // n) + 3 * (tt // n) + 9 * dlc.dl) AS tfn_ppm,
      |    LEAST(((n - df) * 1000000) // df, 100000000) AS idf_ppm
      |  FROM ltf JOIN ldft ON ltf.tok = ldft.tok
      |    JOIN dlc ON ltf.doc_id = dlc.doc_id AND ltf.k = dlc.k
      |    CROSS JOIN ltot),
      |lexc AS (SELECT doc_id, k, CAST(SUM((tfn_ppm * idf_ppm) // 1000000) AS BIGINT) AS score_ppm
      |  FROM lsc GROUP BY 1, 2),
      |lexr AS (SELECT doc_id, k, lrank FROM (SELECT doc_id, k,
      |    row_number() OVER (ORDER BY score_ppm DESC, doc_id, k) AS lrank
      |  FROM lexc) WHERE lrank <= 20)""".stripMargin

  private val search6FusedSelect =
    """SELECT COALESCE(lexr.doc_id, semr.doc_id) AS doc_id,
      |  CAST(COALESCE(lexr.k, semr.k) AS BIGINT) AS chunk_id,
      |  CAST(COALESCE(1000000 // (60 + lrank), 0)
      |     + COALESCE(1000000 // (60 + srank), 0) AS BIGINT) AS rrf_ppm,
      |  CAST(COALESCE(lrank, 0) AS BIGINT) AS lex_rank,
      |  CAST(COALESCE(srank, 0) AS BIGINT) AS sem_rank
      |FROM lexr FULL OUTER JOIN semr ON lexr.doc_id = semr.doc_id AND lexr.k = semr.k
      |ORDER BY rrf_ppm DESC, doc_id, chunk_id LIMIT 15""".stripMargin

  private val search6Sql = graft.OracleHints.materializeCtes(
    s"""WITH $search6Ctes
       |$search6FusedSelect""".stripMargin)

  // ---------------------------------------------------------------------
  // search7_rag_context — the serving-side END of the RAG stack: what a
  // production system does between "retrieved top-k" and "call the
  // model". Three stages composed: (1) search6's fused hybrid top-15
  // candidates; (2) MMR DIVERSIFICATION over them (sim12's exact
  // Carbonell–Goldstein greedy, λ=2/3 folded to 2·rel − maxsim) so the
  // context window is not spent on near-duplicate chunks — relevance is
  // the fused RRF score normalized to e6 (rel_n = rrf·10⁶ div max_rrf,
  // same scale as the e6 pairwise cosines; lexical-only chunks with no
  // hashed vector contribute sim 0 — no semantic-duplicate signal
  // exists for them, both engines identically); (3) greedy CONTEXT
  // PACKING of the picks in MMR order under a 256-token budget —
  // cum_tokens is monotone, so "keep while ≤ budget" IS stop-at-first-
  // overflow, and the emitted slots are the exact chunk sequence the
  // prompt assembler would stuff.
  //
  // Scale: everything after search6 operates on ≤15 rows — the pairwise
  // sim matrix is ≤15×15 dense-16 dots, each MMR round is one bounded
  // argmax action (sim12's driver-iterates-ACTIONS discipline, K=8
  // rounds), packing folds ≤8 driver scalars. Per-query serving cost is
  // search6's probe cost + O(k²) tail work. Oracle replays fusion, all
  // K rounds, and the running-sum cut. 10× probe: ~7 → 19.3 s —
  // entirely search6's in-plan index build (production reads the stored
  // pipe6 table); the post-retrieval tail is corpus-size-independent
  // (the fused frame localCheckpoints so the retrieval stack runs once,
  // not once per downstream reference).
  private val s7K = 8
  private val s7Ctx = 256L
  private def search7RagContext(s: SparkSession, d: String): DataFrame = {
    val (fused0, parts) = search6Fused(s, d)
    search7Core(s, fused0, parts, ck =>
      graft.operators.TrainPrep.pk6TokenChunks(s, d)
        .join(ck, Seq("doc_id", "k"), "left_semi")
        .groupBy(col("doc_id"), col("k").as("chunk_id"))
        .agg(count(lit(1)).as("n_tokens")))
  }

  /** search7 served from the published RAG store: search6FromStore's
    * candidates + a PRUNED point lookup of the stored chunklens table
    * into the same MMR + packing tail. The ≤15 candidate keys are
    * collected (bounded — the fused frame is already pinned) and pushed
    * into the chunklens scan as LITERAL predicates, so the lookup reads
    * O(candidates) row groups of the doc_id-sorted table
    * (publishRagStoreFrom's write discipline) — the r13 semi-join read
    * the whole chunklens table per query, the one serving-path term
    * that grew linearly with the store. Bit-identical to the registry
    * search7 (RagStoreSpec). MEASURED (sf0.1 base, warm, ScaleProbe
    * `prod:search6` arm, last at commit 561c6b9, on the collision-free
    * 10× corpus, r14 capture): registry
    * rebuild-in-plan 4.70 s vs from-store 2.27 s at 1× and 2.79 s at
    * 10× STORE growth — near-FLAT (the r13 scan-per-query shape
    * measured 3.20 → 4.82 s on the same harness); the floor is the K=8
    * bounded MMR argmax actions (driver round trips on ≤15 rows),
    * corpus-independent by construction.
    */
  private[graft] def search7FromStore(s: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val pinned = Some(resolveRagVersion(s, root, version))
    val parts = ragPartsFromStore(s, root, pinned)
    val fused = search6FusedCore(s, parts,
      chunkBm25ScoresFromStore(s, root, pinned))
    search7Core(s, fused, parts, ck => {
      // bounded action: ck is ≤15 rows off the pinned fused frame
      val keys = ck.collect().map(r => (r.getLong(0), r.getLong(1)))
      val pairPred = keys.map { case (d0, k0) =>
        col("doc_id") === lit(d0) && col("k") === lit(k0)
      }.reduceOption(_ || _).getOrElse(lit(false))
      graft.sources.Snapshots.readTable(s, root, "chunklens", pinned)
        .filter(col("doc_id").isin(keys.map(_._1).distinct.toSeq: _*))
        .filter(pairPred)
        .select(col("doc_id"), col("k").as("chunk_id"),
          col("dl").as("n_tokens"))
    })
  }

  /** The post-retrieval serving tail (MMR diversify + token-budget
    * pack), parameterized on the candidate frame and on HOW a
    * candidate's token count is looked up (`dlOf`: candidate keys →
    * (doc_id, chunk_id, n_tokens) — the registry twin re-counts from the
    * token grain, the from-store twin semi-joins the stored chunklens).
    */
  private def search7Core(s: SparkSession, fused0: DataFrame,
      parts: graft.operators.TrainPrep.Pipe6Parts,
      dlOf: DataFrame => DataFrame): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotLong _
    // ≤15 rows, but its LINEAGE is the whole retrieval stack (BM25 leg's
    // corpus scan included) and Catalyst does not dedup common subplans —
    // three downstream references would re-run search6 three times
    val fused = fused0.localCheckpoint()
    val candKeys = fused.select(col("doc_id"), col("chunk_id").as("k"))
    val dl = dlOf(candKeys)
    val mx = fused.agg(max("rrf_ppm").as("mx"))
    val cands = fused
      .join(dl, Seq("doc_id", "chunk_id"))
      .join(parts.vecs.withColumnRenamed("k", "chunk_id"),
        Seq("doc_id", "chunk_id"), "left")
      .crossJoin(broadcast(mx))
      .select(col("doc_id"), col("chunk_id"), col("rrf_ppm"), col("n_tokens"),
        expr("rrf_ppm * 1000000L div mx").as("rel_n"), col("va"), col("vnrm"))
      .localCheckpoint() // ≤15 rows, referenced every round
    val pw = cands
      .select(col("doc_id").as("ad"), col("chunk_id").as("ak"),
        col("va").as("vva"), col("vnrm").as("na"))
      .crossJoin(cands.select(col("doc_id").as("bd"), col("chunk_id").as("bk"),
        col("va").as("vvb"), col("vnrm").as("nb")))
      .filter(!(col("ad") === col("bd") && col("ak") === col("bk")))
      .withColumn("sim_e6",
        when(col("na").isNull || col("nb").isNull, 0L)
          .otherwise(floor(dot(col("vva"), col("vvb")).cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
            * 1000000).cast("long")))
      .select("ad", "ak", "bd", "bk", "sim_e6")
    // r19: the greedy MMR + packing tail runs ON THE DRIVER over the two
    // BOUNDED collected frames (cands ≤ 15 rows by the fused limit, pw ≤
    // 15·14 sims — the same bounded-scalar class as the HWM reads; the
    // sim arithmetic itself still runs in Spark's codegen above, so the
    // e6 cosines are bit-identical). The old loop paid 2–3 Spark jobs
    // per round × K=8 rounds to rank ≤15 rows; all scoring below is
    // exact int64, same (score DESC, doc_id, chunk_id) tie-break.
    val candRows = cands
      .select(col("doc_id"), col("chunk_id"), col("rrf_ppm"), col("rel_n"),
        col("n_tokens"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val simOf = pw.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)),
        r.getLong(4))).toMap
    var picks = Vector.empty[(Long, Long, Long, Long, Long)]
    var picked = Set.empty[(Long, Long)]
    val rounds = math.min(s7K.toLong, candRows.length.toLong).toInt
    for (_ <- 1 to rounds) {
      val top = candRows.iterator
        .filter { case (d0, k0, _, _, _) => !picked((d0, k0)) }
        .map { case (d0, k0, rrf, reln, nt) =>
          val maxsim =
            if (picked.isEmpty) 0L
            else picked.iterator
              .map(p => simOf.getOrElse((d0, k0, p._1, p._2), 0L)).max
          val score = if (picked.isEmpty) reln * 2L else reln * 2L - maxsim
          (d0, k0, rrf, score, nt)
        }
        .minBy { case (d0, k0, _, score, _) => (-score, d0, k0) }
      picks :+= top
      picked += ((top._1, top._2))
    }
    import s.implicits._
    var cum = 0L
    val rows = picks.zipWithIndex.flatMap { case ((dId, ck, rrf, sc, nt), i) =>
      cum += nt // monotone → the ≤-budget prefix IS stop-at-first-overflow
      if (cum <= s7Ctx) Some((i + 1L, dId, ck, rrf, sc, nt, cum)) else None
    }
    rows.toDF("slot", "doc_id", "chunk_id", "rrf_ppm", "score",
      "n_tokens", "cum_tokens").orderBy("slot")
  }

  /** Oracle: search6's full chain as the candidate CTE, pairwise e6
    * cosines over the stored sparse vectors (vectorless → 0), K
    * unrolled MMR rounds (sim13's sel-chain pattern on composite keys),
    * running-sum cut at the context budget.
    */
  private def s7RoundSql(r: Int): String =
    s"""x$r AS (SELECT c.*, COALESCE((SELECT MAX(pw.sim_e6) FROM pw
       |    JOIN sel${r - 1} s2 ON pw.bd = s2.doc_id AND pw.bk = s2.chunk_id
       |    WHERE pw.ad = c.doc_id AND pw.ak = c.chunk_id), 0) AS maxsim
       |  FROM cd c WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s3
       |    WHERE s3.doc_id = c.doc_id AND s3.chunk_id = c.chunk_id)),
       |p$r AS (SELECT $r AS rank, doc_id, chunk_id, rrf_ppm,
       |    2 * rel_n - maxsim AS score, n_tokens
       |  FROM x$r ORDER BY 2 * rel_n - maxsim DESC, doc_id, chunk_id LIMIT 1),
       |sel$r AS (SELECT doc_id, chunk_id FROM sel${r - 1}
       |  UNION ALL SELECT doc_id, chunk_id FROM p$r),""".stripMargin

  private val search7Sql = graft.OracleHints.materializeCtes(
    s"""WITH $search6Ctes,
       |cand0 AS ($search6FusedSelect),
       |mr AS (SELECT MAX(rrf_ppm) AS mx FROM cand0),
       |cd AS (SELECT c.doc_id, c.chunk_id, c.rrf_ppm,
       |    CAST(d.dl AS BIGINT) AS n_tokens,
       |    c.rrf_ppm * 1000000 // mr.mx AS rel_n
       |  FROM cand0 c JOIN dlc d ON d.doc_id = c.doc_id
       |    AND CAST(d.k AS BIGINT) = c.chunk_id CROSS JOIN mr),
       |pdot AS (SELECT va.doc_id AS ad, va.k AS ak, vb.doc_id AS bd,
       |    vb.k AS bk, CAST(SUM(va.w * vb.w) AS BIGINT) AS dot
       |  FROM vw va JOIN vw vb ON va.dim = vb.dim
       |  WHERE EXISTS (SELECT 1 FROM cd
       |      WHERE cd.doc_id = va.doc_id AND cd.chunk_id = va.k)
       |    AND EXISTS (SELECT 1 FROM cd
       |      WHERE cd.doc_id = vb.doc_id AND cd.chunk_id = vb.k)
       |    AND NOT (va.doc_id = vb.doc_id AND va.k = vb.k)
       |  GROUP BY 1, 2, 3, 4),
       |pp AS (SELECT a.doc_id AS ad, a.chunk_id AS ak,
       |    b.doc_id AS bd, b.chunk_id AS bk
       |  FROM cd a, cd b
       |  WHERE NOT (a.doc_id = b.doc_id AND a.chunk_id = b.chunk_id)),
       |pw AS (SELECT p.ad, p.ak, p.bd, p.bk,
       |    CASE WHEN na.vnrm IS NULL OR nb.vnrm IS NULL THEN 0
       |      ELSE CAST(FLOOR(CAST(COALESCE(pd.dot, 0) AS DOUBLE) /
       |        (sqrt(CAST(na.vnrm AS DOUBLE)) * sqrt(CAST(nb.vnrm AS DOUBLE)))
       |        * 1000000) AS BIGINT) END AS sim_e6
       |  FROM pp p
       |  LEFT JOIN pdot pd ON pd.ad = p.ad AND pd.ak = p.ak
       |    AND pd.bd = p.bd AND pd.bk = p.bk
       |  LEFT JOIN idx na ON na.doc_id = p.ad AND na.k = p.ak
       |  LEFT JOIN idx nb ON nb.doc_id = p.bd AND nb.k = p.bk),
       |p1 AS (SELECT 1 AS rank, doc_id, chunk_id, rrf_ppm,
       |    2 * rel_n AS score, n_tokens
       |  FROM cd ORDER BY 2 * rel_n DESC, doc_id, chunk_id LIMIT 1),
       |sel1 AS (SELECT doc_id, chunk_id FROM p1),
       |${(2 to s7K).map(s7RoundSql).mkString("\n")}
       |allp AS (${(1 to s7K).map(r => s"SELECT * FROM p$r").mkString(" UNION ALL ")}),
       |cum AS (SELECT rank, doc_id, chunk_id, rrf_ppm, score, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY rank) AS cum_tokens FROM allp)
       |SELECT CAST(rank AS BIGINT) AS slot, doc_id, chunk_id, rrf_ppm,
       |  CAST(score AS BIGINT) AS score, n_tokens,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens
       |FROM cum WHERE cum_tokens <= $s7Ctx ORDER BY slot""".stripMargin)

  // ---------------------------------------------------------------------
  // mine1_hard_negatives — DPR-style hard-negative mining (Karpukhin et
  // al. 2020: the negatives that teach a retriever are the LEXICALLY
  // CONFUSABLE but semantically far documents — random negatives are
  // trivially separable). For each query doc (a thin doc_id % 100 slice)
  // take its top-3 salient terms (t8's exact tf·10⁶ div df ranking),
  // score every other doc by lexical overlap Σ tf·(10⁶ div df) on those
  // terms, keep the top-20 per query, and flag as hard negatives those
  // whose embedding cosine vs the query is below 0.5 — high-BM25-shaped
  // overlap, low semantic similarity, exactly the training triples a
  // contrastive retriever consumes (sim11's range join mines the
  // positives; this mines the negatives).
  //
  // Scale: the candidate join is PRUNED to the query docs' ≤3q terms
  // before any tf row moves (search1's term-pruning discipline); the
  // per-query top-20 is a window over each query's candidate rows only;
  // the cosine pass touches 20 rows per query. All integer arithmetic:
  // lex_ppm exact, cos_e6 the standard floor-of-single-division.
  private def mine1HardNegatives(s: SparkSession, d: String): DataFrame =
    mine1Core(s, d, dfCap = None)

  /** mine1 with the production STOP-WORD GUARD built: query terms whose
    * df exceeds `dfCap` are dropped AFTER salience selection, BEFORE the
    * candidate join — so a degenerate corpus (vocabulary so small that
    * even the tf·idf-salient terms are near-stop-words) cannot drive the
    * term join to q × N pairs; the join degree is bounded by q·3·dfCap
    * regardless of corpus shape. On a healthy corpus a loose cap is a
    * NO-OP (salient ⇒ rare ⇒ df ≪ cap; Mine1CapSpec pins bit-equality
    * with the uncapped registry query on the gate corpus, and the
    * ScaleProbe `skew:mine1` arm (last at commit 561c6b9) showed where
    * the knob earns its keep: on a
    * degenerate-vocabulary corpus uncapped grows 4.86 → 274.1 s for 10×
    * docs — the q×N quadratic — while capped stays 2.05 → 2.30 s,
    * near-flat: at 10× the cap is a 119× speedup on identical inputs,
    * trading only the near-stop-word candidates away). The registry
    * query stays UNCAPPED: the cap would vacate the tiny gate corpus's
    * output, and the oracle gates the uncapped semantics.
    */
  private[graft] def mine1Capped(s: SparkSession, d: String,
      dfCap: Long): DataFrame = mine1Core(s, d, Some(dfCap))

  private def mine1Core(s: SparkSession, d: String,
      dfCap: Option[Long]): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotLong _
    val isQ = col("doc_id") % 100 === 0
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // referenced by qterms + the candidate side
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_ppm").desc, col("term"))
    val qterms0 = tf.filter(isQ).join(dfr, "term")
      .withColumn("score_ppm", expr("tf * 1000000L div df"))
      .withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") <= 3)
      .select(col("doc_id").as("qid"), col("term"), col("df"))
    // the stop-word guard: applied AFTER top-3 selection so a capped run
    // never substitutes a lower-salience term — it only refuses to fan
    // out on a near-stop-word (the df-capped DPR convention)
    val qterms = dfCap.fold(qterms0)(c => qterms0.filter(col("df") <= c))
    // per-query top-20 via the bounded TopKPairs aggregate (q10's): at
    // most 20 pairs per query leave each map task, identical output to
    // the row_number window (101.6 → 79.2 s at the 10× probe). The
    // residual 10× growth (2.4 → 79 s) is candidate CARDINALITY, not a
    // plan defect: the synthetic corpus's ~60-word vocabulary makes
    // every doc every query's candidate (q × N pairs through the
    // term join — ev5's output-driven-growth adjudication applies). On
    // a real corpus the tf·idf-salient query terms are rare by
    // construction (high score_ppm ⇒ low df), so the term-pruned join
    // emits ~q·df(salient) pairs; [[mine1Capped]] is the production
    // knob for a corpus that degenerates (measured in its scaladoc).
    val cand = qterms
      .join(tf.select(col("doc_id").as("cand_id"), col("term"), col("tf")),
        Seq("term"))
      .filter(col("cand_id") =!= col("qid"))
      .groupBy("qid", "cand_id")
      .agg(sum(expr("tf * (1000000L div df)")).as("lex_ppm"))
      .groupBy("qid")
      // TopKPairs keys on double; lex_ppm ≤ ~10⁹ « 2⁵³ so the cast
      // round-trips exactly and the DESC order is the integer order
      .agg(graft.functions.VectorFunctions.topK(
        col("lex_ppm").cast("double"), col("cand_id"), 20).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("i", "t")))
      .select(col("qid"), col("t.payload").as("cand_id"),
        col("t.key").cast("long").as("lex_ppm"),
        (col("i") + 1).cast("long").as("lex_rank"))
    // LEFT joins: a candidate (or query) without an embedding row keeps
    // its lex_rank — ranks stay dense — with NULL cos_e6 and
    // is_hard = false: UNJUDGEABLE is not HARD (feeding an unverified
    // negative to a contrastive trainer risks a false negative)
    val e = graft.operators.Similarity.scaledVectors(s, d)
    cand
      .join(e.select(col("vec_id").as("qid"), col("v").as("va"),
        col("nrm").as("na")), Seq("qid"), "left")
      .join(e.select(col("vec_id").as("cand_id"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("cand_id"), "left")
      .withColumn("cos_e6",
        floor(dot(col("va"), col("vb")).cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
          * 1000000).cast("long"))
      .select(col("qid"), col("lex_rank"), col("cand_id"), col("lex_ppm"),
        col("cos_e6"),
        coalesce(col("cos_e6") < 500000L, lit(false)).as("is_hard"))
      .orderBy("qid", "lex_rank")
  }

  private val mine1Sql = graft.OracleHints.materializeCtes(
    s"""WITH ${graft.operators.Similarity.scaledVectorsSqlCte},
       |wds AS (SELECT doc_id, u.term FROM
       |    (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |    UNNEST(toks) AS u(term)
       |  WHERE u.term <> ''),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM wds GROUP BY 1, 2),
       |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |qt AS (SELECT doc_id AS qid, term, df FROM (
       |    SELECT tf.doc_id, tf.term, dfr.df,
       |      row_number() OVER (PARTITION BY tf.doc_id
       |        ORDER BY tf.tf * 1000000 // dfr.df DESC, tf.term) AS rnk
       |    FROM tf JOIN dfr USING (term) WHERE tf.doc_id % 100 = 0)
       |  WHERE rnk <= 3),
       |cnd AS (SELECT qid, cand_id, lex_ppm,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY lex_ppm DESC, cand_id) AS BIGINT) AS lex_rank
       |  FROM (SELECT qt.qid, c.doc_id AS cand_id,
       |      CAST(SUM(c.tf * (1000000 // qt.df)) AS BIGINT) AS lex_ppm
       |    FROM qt JOIN tf c USING (term) WHERE c.doc_id <> qt.qid
       |    GROUP BY 1, 2)),
       |sc AS (SELECT cnd.qid, cnd.lex_rank, cnd.cand_id, cnd.lex_ppm,
       |    CAST(FLOOR(CAST((SELECT SUM(a.v[i] * b.v[i])
       |        FROM UNNEST(generate_series(1, 64)) t(i)) AS DOUBLE) /
       |      (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
       |      * 1000000) AS BIGINT) AS cos_e6
       |  FROM cnd LEFT JOIN e a ON a.vec_id = cnd.qid
       |    LEFT JOIN e b ON b.vec_id = cnd.cand_id
       |  WHERE cnd.lex_rank <= 20)
       |SELECT qid, lex_rank, cand_id, lex_ppm, cos_e6,
       |  COALESCE(cos_e6 < 500000, false) AS is_hard
       |FROM sc ORDER BY qid, lex_rank""".stripMargin)

  val queries: Seq[Q] = Seq(
    Q("mine1_hard_negatives", mine1HardNegatives, Some(mine1Sql)),
    Q("search7_rag_context", search7RagContext, Some(search7Sql)),
    Q("search6_hybrid_chunks", search6HybridChunks, Some(search6Sql)),
    Q("search5_hybrid_rrf", search5HybridRrf, Some(search5Sql)),
    Q("search4_chunk_bm25", search4ChunkBm25, Some(search4Sql)),
    Q("t18_bpe_encode", t18BpeEncode, Some(t18Sql)),
    Q("t17_textrank_keywords", t17TextrankKeywords, Some(t17Sql)),
    Q("t16_pmi_collocations", t16PmiCollocations, Some(t16Sql)),
    Q("t15_lm_quality", t15LmQuality, Some(t15Sql)),
    Q("search3_incremental_index", search3IncrementalIndex, Some(search3Sql)),
    Q("search2_phrase", search2Phrase, Some(search2Sql)),
    Q("search1_bm25", search1Bm25, Some(search1Sql)),
    Q("t14_incremental_vocab", t14IncrementalVocab, Some(t14Sql)),
    Q("t13_heavy_hitters", t13HeavyHitters, Some(t13Sql)),
    Q("t12_bigram_lm", t12BigramLm, Some(t12Sql)),
    Q("t11_bpe_merges", t11BpeMerges, Some(t11Sql)),
    Q("t10_feature_hash", t10FeatureHash, Some(t10Sql)),
    Q("t9_vocab_stats", t9VocabStats, Some(t9Sql)),
    Q("t8_top_terms", t8TopTerms, Some(t8Sql)),
    Q("t6_stratified_sample", t6StratifiedSample, Some(t6Sql)),
    Q("t1_lang_id", t1LangId, Some(t1Sql)),
    Q("t2_quality", t2Quality, Some(t2Sql)),
    Q("t3_tokens", t3Tokens, Some(t3Sql)),
    Q("t4_fingerprint", t4Fingerprint, Some(t4Sql)),
    Q("t5_repetition", t5Repetition, Some(t5Sql)))
}
