package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.FixedLog
import graft.functions.TextAnalysis._
import graft.ops.GlobalRank

/** Published curation methods a large-scale training-data pipeline
  * runs beyond the dedup/LM tiers already gated: DSIR hashed
  * importance resampling (Xie et al. 2023), the Gopher document-rule
  * battery (Rae et al. 2021 §A1.1), and CCNet-style corpus-level line
  * dedup with reassembly (Wenzek et al. 2019). Beyond-reference north
  * star — the reference (a printer-fleet ETL) has no analogue; these
  * follow the documents-table conventions of TextQueries (portable
  * md5 hashing, whole-bit integer surprisal from LmQueries, the t14
  * "synthesize structure into text" trick for line-level rules).
  *
  * Scale shape notes per query, in their scaladocs.
  */
object CurationQueries {

  private val ToksSql = TextQueries.ToksSql

  // ---------------------------------------------------------------
  // t71 — DSIR hashed importance weights
  // ---------------------------------------------------------------

  // bucket hash + bitlen: TextAnalysis.DsirBuckets / dsirBucket /
  // bitlen (shared with DsirServe), in scope via import; the oracle's
  // DuckDB twin of the bucket hash lives here
  private val DsirBucketSql =
    s"CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % $DsirBuckets"

  /** Shared t71/t71b oracle core: CTEs from the documents scan through
    * `w` = (doc_id, n_toks, logw_bits) — the per-document integer
    * DSIR log-weight (see t71 scaladoc for the semantics).
    *
    * Every emitted sum is `CAST(... AS BIGINT)` (VERDICT r16 item 1):
    * DuckDB `SUM(BIGINT)` returns HUGEINT (decimal128), and the
    * driver's exact hash distinguishes the PHYSICAL type even when
    * every cell value matches Spark's int64 — the proven r16 root
    * cause of the t71/t71b reds. The t57d discipline: 128-bit width
    * may be used INTERNALLY, but never emitted. */
  private val DsirWCtes: String =
    s"""t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
       |inst AS (SELECT doc_id, lang, $DsirBucketSql AS bucket
       |         FROM t, unnest(toks) AS u(tok)),
       |db AS (SELECT doc_id, bucket, COUNT(*) AS k
       |       FROM inst GROUP BY 1, 2),
       |ct AS (SELECT bucket, COUNT(*) AS c_t FROM inst
       |       WHERE lang = 'en' GROUP BY 1),
       |cr AS (SELECT bucket, COUNT(*) AS c_r FROM inst GROUP BY 1),
       |tot AS (SELECT (SELECT COUNT(*) FROM inst WHERE lang = 'en')
       |          AS t_t, (SELECT COUNT(*) FROM inst) AS t_r),
       |sc AS (SELECT db.doc_id,
       |         CAST(SUM(db.k) AS BIGINT) AS n_toks,
       |         CAST(SUM(db.k * (length(bin(COALESCE(ct.c_t, 0) + 1))
       |                     - length(bin(cr.c_r + 1)))) AS BIGINT) AS raw_bits
       |       FROM db LEFT JOIN ct USING (bucket)
       |         JOIN cr USING (bucket)
       |       GROUP BY 1),
       |w AS (SELECT sc.doc_id, sc.n_toks,
       |        CAST(sc.raw_bits + sc.n_toks *
       |          (length(bin(tot.t_r + $DsirBuckets))
       |           - length(bin(tot.t_t + $DsirBuckets))) AS BIGINT)
       |          AS logw_bits
       |      FROM sc, tot)""".stripMargin

  /** Shared t71/t71b Spark core: (docs projection, the `w` log-weight
    * frame) — one definition so the deterministic and Gumbel-sampled
    * gates can never disagree on the weights. */
  private def dsirCore(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val inst = docs
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
      .select(col("doc_id"), col("lang"), dsirBucket(col("tok")).as("bucket"))
    // ONE corpus explode (r20, guide §1.2): the lazy `inst` fed four
    // consumers, so the tokenize+md5 scan ran four times per gate. All
    // four are aggregates of the (doc, lang, bucket) counts (lang is
    // functional on doc_id), so they now derive from one checkpointed
    // doc×bucket-sized frame — same counts, same types, same outputs.
    val db2 = inst.groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("k")).localCheckpoint()
    val db = db2.select("doc_id", "bucket", "k")
    val ct = db2.filter(col("lang") === "en")
      .groupBy("bucket").agg(sum("k").as("c_t"))
    val cr = db2.groupBy("bucket").agg(sum("k").as("c_r"))
    val tot = db2.agg(
      sum(when(col("lang") === "en", col("k")).otherwise(0L)).as("t_t"),
      sum("k").as("t_r"))
    val sc = db
      .join(broadcast(ct), Seq("bucket"), "left")
      .join(broadcast(cr), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_toks"),
        sum(col("k") * (bitlen(coalesce(col("c_t"), lit(0L)) + 1) -
          bitlen(col("c_r") + 1))).as("raw_bits"))
    val w = sc.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_toks"),
        (col("raw_bits") + col("n_toks") *
          (bitlen(col("t_r") + DsirBuckets) -
            bitlen(col("t_t") + DsirBuckets))).as("logw_bits"))
    (docs, w)
  }

  /** T71 — DSIR (Data Selection via Importance Resampling, Xie et
    * al. 2023): rank raw documents by how target-like their hashed
    * n-gram bag is. Features are word unigrams hashed into
    * [[DsirBuckets]] buckets; the target distribution is the `lang =
    * 'en'` slice, the raw distribution the whole corpus; each
    * document's importance weight is Σ_tok log p_t(b)/p_r(b) with
    * add-one smoothing. Logs are the whole-BIT integer surprisal of
    * t48/t49 (`bitlen(c+1)` via `length(bin(..))`) so the oracle is
    * hash-exact — no cross-engine libm in the gate. Selection is the
    * deterministic variant: keep the top 25 % by (weight desc,
    * doc_id) rank; production DSIR adds Gumbel noise to the same
    * weight, which changes the sampled set but not the plan (the
    * seeded hash-Gumbel twin is t71b below).
    *
    * The gate output is FLOAT-FREE (r15 verdict item 1): it emits the
    * integer `rnk` and `n_docs` instead of a hand-assembled
    * percent-rank double, and `kept` is the integer predicate
    * `4*(rnk-1) <= n_docs-1` — algebraically identical to
    * `percent_rank <= 0.25` but immune to cross-engine float
    * formatting/hash seams (the r15 driver red was exactly that).
    *
    * Scale shape: the instance stream reduces to per-(doc, bucket)
    * counts BEFORE any join (map-side combinable groupBy); both
    * bucket models are B-row frames (64 rows — broadcast by
    * construction, never corpus-sized), and the target restriction is
    * a scan FILTER on the instance stream, never a doc-id join. One
    * corpus-wide shuffle (the per-doc groupBy) plus the rank. The
    * rank is [[GlobalRank]]'s two-phase range-partition + zipWithIndex
    * (VERDICT r16 item 4: the former per-value-frame window rank —
    * bounded frame of whole-bit values + a logw_bits-partitioned
    * tie-break window, see git 43dbfbf for the pedagogical window
    * form — was order-identical but measured 1.4× SLOWER at ×1000 on
    * t71b's identical core, 869 s vs 621 s: the value-frame build
    * costs an extra corpus shuffle + broadcast join that the
    * range-partition sort subsumes). (logw_bits desc, doc_id) is a
    * total key, so ranks are identical to `ROW_NUMBER() OVER (ORDER
    * BY logw_bits DESC, doc_id)` with every corpus-sized stage
    * partitioned. */
  val t71DsirWeights: QuerySpec = QuerySpec.sql(
    "t71_dsir_weights",
    s"""WITH $DsirWCtes,
       |r AS (SELECT doc_id, n_toks, logw_bits,
       |        ROW_NUMBER() OVER (ORDER BY logw_bits DESC, doc_id) AS rnk,
       |        COUNT(*) OVER () AS n_docs
       |      FROM w)
       |SELECT r.doc_id, t.lang, r.n_toks, r.logw_bits, r.rnk, r.n_docs,
       |  (4 * (r.rnk - 1) <= r.n_docs - 1) AS kept
       |FROM r JOIN t ON r.doc_id = t.doc_id
       |ORDER BY r.doc_id""".stripMargin) { (s, d) =>
    val (docs, w) = dsirCore(s, d)
    val nTotal = w.agg(count(lit(1)).as("n_docs"))
    val ranked = GlobalRank.withGlobalRowNumber(w, "rnk",
      col("logw_bits").desc, col("doc_id"))
    ranked.crossJoin(broadcast(nTotal))
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("logw_bits"),
        col("rnk"), col("n_docs"),
        (lit(4L) * (col("rnk") - 1) <= col("n_docs") - 1).as("kept"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // t71b — Gumbel-sampled DSIR (the production sampling variant)
  // ---------------------------------------------------------------

  /** T71B — GUMBEL-SAMPLED DSIR: production DSIR (Xie et al. 2023)
    * does not take the deterministic top-quantile cut of t71 — it
    * SAMPLES without replacement by perturbing each log-weight with
    * Gumbel noise and taking the top-k (the Gumbel-top-k trick,
    * Vieira 2014 / Kool et al. 2019: argtop-k(logw_i + G_i) is an
    * exact weighted sample). This gate is that variant with the noise
    * made oracle-checkable: u_i is a seeded hash uniform
    * (md5("gumbel:" ‖ doc_id), first 32 bits, u = (h+1)/2^32) and the
    * double-log runs in [[FixedLog]] 1/256-bit integer units —
    * A = 32·S − log2fp(h+1) (= −log2 u, fixed-point, floored to ≥ 1 so
    * the h = 2^32−1 edge stays defined), G = 8·S − log2fp(A)
    * (= −log2(−log2 u)), score = logw_bits·S + G. Base-2 logs give a
    * scaled-Gumbel law — same trick, integer-exact in both engines;
    * the gate output stays float-free (t71's discipline).
    *
    * Scale shape: the model build is t71's ([[dsirCore]] — broadcast
    * 64-row buckets, one corpus groupBy); the noise is ROW-LOCAL
    * integer arithmetic on the per-doc frame (FixedLog's
    * corpus-stream caveat is about join economics for model tables,
    * not about row-local maps — there is no model to precompute noise
    * from). The noisy scores are near-unique, so t71's bounded
    * per-value rank frame would be corpus-sized here — the rank
    * instead rides [[GlobalRank]]'s two-phase range-partition +
    * zipWithIndex, the engine's standing scalable total-order
    * primitive. */
  val t71bDsirSample: QuerySpec = QuerySpec.sql(
    "t71b_dsir_sample",
    s"""WITH $DsirWCtes,
       |gb AS (SELECT doc_id, n_toks, logw_bits,
       |    CAST(concat('0x', substr(md5(concat('gumbel:',
       |      CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) + 1 AS h1
       |  FROM w),
       |${FixedLog.sqlCtes("gb", "gl", Seq("h1" -> "lh"))},
       |mid AS (SELECT doc_id, n_toks, logw_bits,
       |    greatest(${32 * FixedLog.Scale} - lh, 1) AS a2
       |  FROM glz),
       |${FixedLog.sqlCtes("mid", "gm", Seq("a2" -> "la2"))},
       |gsc AS (SELECT doc_id, n_toks, logw_bits,
       |    ${8 * FixedLog.Scale} - la2 AS g_fp,
       |    CAST(logw_bits * ${FixedLog.Scale} + ${8 * FixedLog.Scale} - la2
       |      AS BIGINT) AS score_fp
       |  FROM gmz),
       |r AS (SELECT doc_id, n_toks, logw_bits, g_fp, score_fp,
       |    ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS rnk,
       |    COUNT(*) OVER () AS n_docs
       |  FROM gsc)
       |SELECT r.doc_id, t.lang, r.n_toks, r.logw_bits, r.g_fp,
       |  r.score_fp, r.rnk, r.n_docs,
       |  (4 * (r.rnk - 1) <= r.n_docs - 1) AS kept
       |FROM r JOIN t ON r.doc_id = t.doc_id
       |ORDER BY r.doc_id""".stripMargin) { (s, d) =>
    val (docs, w) = dsirCore(s, d)
    val gb = w.withColumn("h1",
      conv(substring(md5(concat(lit("gumbel:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") + 1)
    val mid = FixedLog.withLog2(gb, "h1" -> "lh")
      .withColumn("a2",
        greatest(lit(32L * FixedLog.Scale) - col("lh"), lit(1L)))
      .drop("h1", "lh")
    val gsc = FixedLog.withLog2(mid, "a2" -> "la2")
      .withColumn("g_fp", lit(8L * FixedLog.Scale) - col("la2"))
      .withColumn("score_fp",
        col("logw_bits") * FixedLog.Scale + col("g_fp"))
      .select("doc_id", "n_toks", "logw_bits", "g_fp", "score_fp")
    val nTotal = gsc.agg(count(lit(1)).as("n_docs"))
    val ranked = GlobalRank.withGlobalRowNumber(gsc, "rnk",
      col("score_fp").desc, col("doc_id"))
    ranked.crossJoin(broadcast(nTotal))
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("logw_bits"),
        col("g_fp"), col("score_fp"), col("rnk"), col("n_docs"),
        (lit(4L) * (col("rnk") - 1) <= col("n_docs") - 1).as("kept"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // t72 — Gopher document-rule battery
  // ---------------------------------------------------------------

  /** Tokens-per-synthesized-line for the Gopher line rules. */
  private val LineW = 8

  /** T72 — the GOPHER quality-rule battery (Rae et al. 2021 §A1.1)
    * over a document with real line structure. The fixture corpus is
    * single-line, so line structure is SYNTHESIZED into the text from
    * doc_id (the t14 convention — the oracle builds the identical
    * text, so every rule provably fires): tokens are chunked into
    * 8-token lines; line i gets a "• " bullet prefix when
    * (doc_id + i) % 5 = 0, a trailing " #" symbol when % 11 = 0 and a
    * trailing "..." ellipsis when % 7 = 0. The rules then PARSE that
    * text — they never peek at the injection formulas:
    *   r_words     word count ∈ [20, 1000] (Gopher's [50, 100k]
    *               scaled to the fixture's 10–99-token docs),
    *   r_wordlen   mean word length ∈ [3, 10],
    *   r_symbol    symbol-to-word ratio ('#' or '...') ≤ 0.1,
    *   r_bullet    ≤ 90 % of lines start with a bullet,
    *   r_ellipsis  ≤ 30 % of lines end with an ellipsis,
    *   r_alpha     ≥ 80 % of words contain an alphabetic character,
    *   r_stop      ≥ 2 distinct English stopwords present,
    * keep = all seven. Ratios are integer divisions (IEEE-exact both
    * engines); no floats beyond them. Scale shape: entirely row-local
    * — one scan, zero shuffles; at 100 TB this is a pure map stage
    * exactly like t7/t14. */
  val t72GopherRules: QuerySpec = {
    val stopList = EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    QuerySpec.sql(
      "t72_gopher_rules",
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |ln AS (SELECT doc_id,
         |         list_transform(range(0, CAST(ceil(len(toks) / $LineW.0) AS BIGINT)),
         |           i -> concat(
         |             CASE WHEN (doc_id + i) % 5 = 0 THEN '• ' ELSE '' END,
         |             array_to_string(toks[i * $LineW + 1 : i * $LineW + $LineW], ' '),
         |             CASE WHEN (doc_id + i) % 11 = 0 THEN ' #' ELSE '' END,
         |             CASE WHEN (doc_id + i) % 7 = 0 THEN '...' ELSE '' END))
         |           AS lines
         |       FROM t),
         |doc AS (SELECT doc_id, array_to_string(lines, chr(10)) AS text2
         |        FROM ln),
         |p AS (SELECT doc_id, text2,
         |        string_split(text2, chr(10)) AS plines,
         |        string_split_regex(trim(regexp_replace(text2, '\\s+', ' ', 'g')), ' ')
         |          AS words
         |      FROM doc),
         |m AS (SELECT doc_id,
         |        len(words) AS n_words,
         |        len(plines) AS n_lines,
         |        CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
         |          / len(words) AS mean_word_len,
         |        CAST(len(list_filter(words, w -> w = '#' OR w LIKE '%...'))
         |          AS DOUBLE) / len(words) AS symbol_ratio,
         |        CAST(len(list_filter(plines, l -> l LIKE '•%')) AS DOUBLE)
         |          / len(plines) AS bullet_frac,
         |        CAST(len(list_filter(plines, l -> l LIKE '%...')) AS DOUBLE)
         |          / len(plines) AS ellipsis_frac,
         |        CAST(len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
         |          AS DOUBLE) / len(words) AS alpha_frac,
         |        len(list_distinct(list_filter(words,
         |          w -> list_contains($stopList, w)))) AS n_stop_distinct
         |      FROM p),
         |r AS (SELECT doc_id, n_words, n_lines, mean_word_len, symbol_ratio,
         |        bullet_frac, ellipsis_frac, alpha_frac, n_stop_distinct,
         |        (n_words >= 20 AND n_words <= 1000) AS r_words,
         |        (mean_word_len >= 3 AND mean_word_len <= 10) AS r_wordlen,
         |        (symbol_ratio <= 0.1) AS r_symbol,
         |        (bullet_frac <= 0.9) AS r_bullet,
         |        (ellipsis_frac <= 0.3) AS r_ellipsis,
         |        (alpha_frac >= 0.8) AS r_alpha,
         |        (n_stop_distinct >= 2) AS r_stop
         |      FROM m)
         |SELECT doc_id, n_words, n_lines, mean_word_len, symbol_ratio,
         |  bullet_frac, ellipsis_frac, alpha_frac, n_stop_distinct,
         |  r_words, r_wordlen, r_symbol, r_bullet, r_ellipsis, r_alpha,
         |  r_stop,
         |  (r_words AND r_wordlen AND r_symbol AND r_bullet AND r_ellipsis
         |   AND r_alpha AND r_stop) AS keep
         |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      gopherRules(Tables.documents(s, d)).orderBy("doc_id")
    }
  }

  /** T72B — the C4 RULE BATTERY (Raffel et al. 2020 §2.2): the OTHER
    * canonical heuristic filter next to Gopher's, operating at
    * line-then-page granularity with reassembly — C4 first DROPS
    * lines (keep only lines ending in terminal punctuation; drop
    * lines containing 'javascript'), then drops PAGES (< 3 retained
    * lines, any 'lorem ipsum', any '{'), and the survivors are the
    * reassembled retained lines. Line structure is synthesized from
    * doc_id (the t72/t14 convention — the oracle builds identical
    * text, so every rule provably fires): 8-token lines; line i gets a
    * terminal '.' unless (doc_id+i) % 3 = 0, an injected 'javascript'
    * word when (doc_id+i) % 13 = 0; page-level, a trailing
    * 'lorem ipsum' line when doc_id % 17 = 0 and a 'config {' line
    * when doc_id % 19 = 0. The rules then PARSE the text — they never
    * see the injection formulas. The gate pins the exact reassembly
    * (md5 of retained lines) like t73, not just counts; output is
    * float-free. Scale shape: entirely row-local — one scan, zero
    * shuffles, a pure map stage at 100 TB (t72's shape). */
  val t72bC4Rules: QuerySpec = QuerySpec.sql(
    "t72b_c4_rules",
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |ln AS (SELECT doc_id,
       |         list_transform(range(0, CAST(ceil(len(toks) / $LineW.0) AS BIGINT)),
       |           i -> concat(
       |             array_to_string(toks[i * $LineW + 1 : i * $LineW + $LineW], ' '),
       |             CASE WHEN (doc_id + i) % 13 = 0 THEN ' javascript' ELSE '' END,
       |             CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END))
       |           AS lines0
       |       FROM t),
       |pg AS (SELECT doc_id,
       |         list_concat(lines0,
       |           CASE WHEN doc_id % 17 = 0 THEN ['lorem ipsum'] ELSE [] END
       |             || CASE WHEN doc_id % 19 = 0 THEN ['config {'] ELSE [] END)
       |           AS plines
       |       FROM ln),
       |r AS (SELECT doc_id,
       |        CAST(len(plines) AS BIGINT) AS n_lines,
       |        list_filter(plines, l -> l LIKE '%.'
       |          AND NOT contains(l, 'javascript')) AS kept_lines,
       |        contains(array_to_string(plines, chr(10)), 'lorem ipsum')
       |          AS has_lorem,
       |        contains(array_to_string(plines, chr(10)), '{') AS has_brace
       |      FROM pg)
       |SELECT doc_id, n_lines,
       |  CAST(len(kept_lines) AS BIGINT) AS n_kept,
       |  has_lorem, has_brace,
       |  (len(kept_lines) >= 3 AND NOT has_lorem AND NOT has_brace) AS keep,
       |  md5(COALESCE(array_to_string(kept_lines, chr(10)), ''))
       |    AS new_text_hash
       |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
    c4Rules(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** The t72b battery as a per-row frame transform (the gopherRules
    * convention — stateless, streaming-ready). */
  private[graft] def c4Rules(docs: DataFrame): DataFrame = {
    val nLines = ceil(size(col("toks")) / lit(LineW.toDouble)).cast("long")
    val lineOf = (i: Column) => concat(
      array_join(slice(col("toks"), (i * LineW + 1).cast("int"), lit(LineW)), " "),
      when((col("doc_id") + i) % 13 === 0, " javascript").otherwise(""),
      when((col("doc_id") + i) % 3 === 0, "").otherwise("."))
    val pg = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        // guarded: Spark's sequence DESCENDS when the bound is
        // negative (DuckDB's range is empty) — tokens() never returns
        // an empty array for non-null text, but the guard keeps the
        // streaming-ready claim honest on arbitrary input (t6b lesson)
        transform(when(nLines >= 1, sequence(lit(0L), nLines - 1))
          .otherwise(array().cast("array<bigint>")), lineOf).as("lines0"))
      .select(col("doc_id"),
        concat(col("lines0"),
          when(col("doc_id") % 17 === 0, array(lit("lorem ipsum")))
            .otherwise(array().cast("array<string>")),
          when(col("doc_id") % 19 === 0, array(lit("config {")))
            .otherwise(array().cast("array<string>"))).as("plines"))
    val r = pg.select(col("doc_id"),
      size(col("plines")).cast("long").as("n_lines"),
      filter(col("plines"), l => l.endsWith(".") &&
        !l.contains("javascript")).as("kept_lines"),
      array_join(col("plines"), "\n").contains("lorem ipsum")
        .as("has_lorem"),
      array_join(col("plines"), "\n").contains("{").as("has_brace"))
    r.select(col("doc_id"), col("n_lines"),
      size(col("kept_lines")).cast("long").as("n_kept"),
      col("has_lorem"), col("has_brace"),
      (size(col("kept_lines")) >= 3 && !col("has_lorem") &&
        !col("has_brace")).as("keep"),
      md5(array_join(col("kept_lines"), "\n")).as("new_text_hash"))
  }

  /** The t72 rule battery as a pure per-row frame transform over
    * (doc_id, text) — ONE definition shared by the gate and the
    * streaming curation-v2 leg (stateless, so it runs on a streaming
    * frame unchanged; StreamingCurationV2E2ESpec pins the finalize
    * parity). */
  private[graft] def gopherRules(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nLines = ceil(size(col("toks")) / lit(LineW.toDouble)).cast("long")
    val lineOf = (i: Column) => concat(
      when((col("doc_id") + i) % 5 === 0, "• ").otherwise(""),
      array_join(slice(col("toks"), (i * LineW + 1).cast("int"), lit(LineW)), " "),
      when((col("doc_id") + i) % 11 === 0, " #").otherwise(""),
      when((col("doc_id") + i) % 7 === 0, "...").otherwise(""))
    val t = docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        // same descending-sequence guard as c4Rules (t6b lesson)
        transform(when(nLines >= 1, sequence(lit(0L), nLines - 1))
          .otherwise(array().cast("array<bigint>")), lineOf).as("lines"))
      .select(col("doc_id"), array_join(col("lines"), "\n").as("text2"))
    val p = t.select(col("doc_id"),
      split(col("text2"), "\n").as("plines"),
      split(trim(regexp_replace(col("text2"), "\\s+", " ")), " ")
        .as("words"))
    val stopArr = array(EnStopwords.map(lit): _*)
    val m = p.select(col("doc_id"),
      size(col("words")).cast("long").as("n_words"),
      size(col("plines")).cast("long").as("n_lines"),
      (aggregate(col("words"), lit(0L), (a, w) => a + length(w))
        .cast("double") / size(col("words"))).as("mean_word_len"),
      (size(filter(col("words"), w => w === "#" || w.endsWith("...")))
        .cast("double") / size(col("words"))).as("symbol_ratio"),
      (size(filter(col("plines"), l => l.startsWith("•")))
        .cast("double") / size(col("plines"))).as("bullet_frac"),
      (size(filter(col("plines"), l => l.endsWith("...")))
        .cast("double") / size(col("plines"))).as("ellipsis_frac"),
      (size(filter(col("words"), w => w.rlike("[a-z]")))
        .cast("double") / size(col("words"))).as("alpha_frac"),
      size(array_distinct(filter(col("words"),
        w => array_contains(stopArr, w)))).cast("long")
        .as("n_stop_distinct"))
    val r = m
      .withColumn("r_words", col("n_words") >= 20 && col("n_words") <= 1000)
      .withColumn("r_wordlen",
        col("mean_word_len") >= 3 && col("mean_word_len") <= 10)
      .withColumn("r_symbol", col("symbol_ratio") <= 0.1)
      .withColumn("r_bullet", col("bullet_frac") <= 0.9)
      .withColumn("r_ellipsis", col("ellipsis_frac") <= 0.3)
      .withColumn("r_alpha", col("alpha_frac") >= 0.8)
      .withColumn("r_stop", col("n_stop_distinct") >= 2)
    r.withColumn("keep",
      col("r_words") && col("r_wordlen") && col("r_symbol") &&
        col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
        col("r_stop"))
  }

  // ---------------------------------------------------------------
  // t73 — CCNet-style corpus-level line dedup + reassembly
  // ---------------------------------------------------------------

  // line unit + pos-key: TextAnalysis.DedupLineW / chunkLines /
  // linePosKey (shared with the streaming door), in scope via import

  /** T73 — CORPUS-LEVEL LINE DEDUP with document reassembly (the
    * CCNet / RefinedWeb pre-step: boilerplate lines repeated across
    * pages are dropped corpus-wide BEFORE document-level dedup).
    * Lines are non-overlapping 10-token chunks of the normalized
    * token stream (the fixture corpus is single-line — the chunking
    * stands in for real newline splits; the operator is agnostic to
    * where lines come from). A line instance survives iff it is the
    * corpus-wide FIRST occurrence of its md5 (argmin by (doc_id,
    * line_idx), encoded as one integer `doc_id·10^6 + line_idx` so
    * the min is engine-portable — valid while a document has < 10^6
    * lines — deterministic, arrival-order-free, the same lowest-id
    * retention rule as t38b/StreamingNearDup). Per document:
    * line counts, kept fraction, and the md5 of the reassembled text
    * (kept lines in original order, '\n'-joined) so the gate pins the
    * exact reassembly, not just counts.
    *
    * Scale shape: explode is narrow; the only corpus-wide shuffle is
    * the per-hash argmin groupBy (two-phase, map-side combinable) and
    * the hash-keyed join back — fan-in per key is the line's
    * duplication count, the same bounded shape as t1's hash-groupBy.
    * Reassembly is a per-doc groupBy over surviving instances. No
    * sort, no window, no all-pairs anything. */
  val t73LineDedup: QuerySpec = QuerySpec.sql(
    "t73_line_dedup",
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |ln AS (SELECT doc_id, i AS line_idx,
       |         array_to_string(toks[i * $DedupLineW + 1 : i * $DedupLineW + $DedupLineW], ' ')
       |           AS line
       |       FROM t, unnest(range(0, CAST(ceil(len(toks) / $DedupLineW.0) AS BIGINT)))
       |         AS u(i)),
       |h AS (SELECT doc_id, line_idx, line, md5(line) AS lh,
       |        doc_id * 1000000 + line_idx AS pos_key
       |      FROM ln),
       |keep AS (SELECT lh, MIN(pos_key) AS k FROM h GROUP BY 1),
       |mk AS (SELECT h.doc_id, h.line_idx, h.line,
       |         (h.pos_key = keep.k) AS kept
       |       FROM h JOIN keep USING (lh))
       |SELECT doc_id,
       |  COUNT(*) AS n_lines,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
       |    AS kept_frac,
       |  md5(COALESCE(string_agg(CASE WHEN kept THEN line END, chr(10)
       |        ORDER BY line_idx), '')) AS new_text_hash
       |FROM mk GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val h = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(chunkLines(tokens(col("text")))).as("l"))
      .select(col("doc_id"), col("l.line_idx"), col("l.line"),
        md5(col("l.line")).as("lh"),
        linePosKey(col("doc_id"), col("l.line_idx")).as("pos_key"))
    val keep = h.groupBy("lh").agg(min("pos_key").as("k"))
    val mk = h.join(keep, Seq("lh"))
      .select(col("doc_id"), col("line_idx"), col("line"),
        (col("pos_key") === col("k")).as("kept"))
    mk.groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        (sum(when(col("kept"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("kept_frac"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("line_idx"), col("line"))))),
          x => x.getField("line")), "\n")).as("new_text_hash"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // t74 — the composed curation decision over the new tier
  // ---------------------------------------------------------------

  /** T74 — CURATION DECISION v2: one row per document joining the
    * three gates of this tier — the Gopher rule battery (t72), the
    * corpus line-dedup survival fraction (t73; a document that lost
    * over half its lines to corpus-wide boilerplate is dropped, the
    * RefinedWeb-style rule) and the DSIR selection (t71) — into the
    * per-document verdict a curation run actually applies, with a
    * first-failing drop reason (gopher → boilerplate → dsir, the t19
    * convention). Composition is the t67 pattern: the Spark side runs
    * the three gated queries and joins their outputs; the oracle
    * embeds the components' own oracle SQL as subqueries, so the
    * decision can never disagree with any component gate.
    *
    * Scale shape: all three components are doc-grained, so the joins
    * are hash-keyed equi joins on doc_id — corpus-sized but
    * shuffle-aligned (same key all the way through; AQE plans SMJ/
    * shuffled-hash, never a cartesian). Nothing beyond the component
    * plans themselves. */
  val t74CurationV2: QuerySpec = QuerySpec.sql(
    "t74_curation_v2",
    s"""SELECT g.doc_id, g.keep AS gopher_keep, l.kept_frac,
       |  (l.kept_frac >= 0.5) AS line_frac_ok, w.kept AS dsir_kept,
       |  (g.keep AND l.kept_frac >= 0.5 AND w.kept) AS selected,
       |  CASE WHEN NOT g.keep THEN 'gopher'
       |       WHEN l.kept_frac < 0.5 THEN 'boilerplate'
       |       WHEN NOT w.kept THEN 'dsir' END AS drop_reason
       |FROM (${t72GopherRules.oracle}) g
       |JOIN (${t73LineDedup.oracle}) l ON g.doc_id = l.doc_id
       |JOIN (${t71DsirWeights.oracle}) w ON g.doc_id = w.doc_id
       |ORDER BY g.doc_id""".stripMargin) { (s, d) =>
    val g = t72GopherRules.run(s, d).select(col("doc_id"),
      col("keep").as("gopher_keep"))
    val l = t73LineDedup.run(s, d).select("doc_id", "kept_frac")
    val w = t71DsirWeights.run(s, d).select(col("doc_id"),
      col("kept").as("dsir_kept"))
    g.join(l, "doc_id").join(w, "doc_id")
      .select(col("doc_id"), col("gopher_keep"), col("kept_frac"),
        (col("kept_frac") >= 0.5).as("line_frac_ok"), col("dsir_kept"),
        (col("gopher_keep") && col("kept_frac") >= 0.5 && col("dsir_kept"))
          .as("selected"),
        when(!col("gopher_keep"), "gopher")
          .when(col("kept_frac") < 0.5, "boilerplate")
          .when(!col("dsir_kept"), "dsir").as("drop_reason"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // t79 — UniMax per-source budget allocation
  // ---------------------------------------------------------------

  /** Max epochs any source may repeat (UniMax's N). */
  private val UniMaxEpochs = 2

  /** T79 — UNIMAX BUDGET ALLOCATION (Chung et al. 2023): split a
    * token budget T across sources as uniformly as possible subject
    * to a per-source repeat cap — each source may contribute at most
    * `capacity × N` tokens (N = [[UniMaxEpochs]]); small sources are
    * taken whole (capped), the rest split the remaining budget
    * equally (the water level). Closed form instead of the paper's
    * greedy loop: with sources sorted by ceiling ascending, source i
    * is capped iff its ceiling is at or below its CANDIDATE level
    * (T − prefix)/(n − i + 1); the cap prefix runs to the first
    * violation (min rn, so a spurious later flip-back cannot split
    * the prefix), and every uncapped source gets the level at the
    * first uncapped rank — exactly the loop's fixpoint. T here is
    * ⌊9/10 of the total ceiling⌋ so the fixture exercises both
    * outcomes. Divisions of integers are IEEE-exact; no float sums.
    *
    * Scale shape: ONE corpus-scale stage (the per-source token-count
    * aggregate, map-side partials); everything after operates on the
    * sources frame — ~20 rows, the model-frame convention — so its
    * windows and scalar cross-joins are bounded by the number of
    * SOURCES, never by corpus rows. This is t40's rebalance-consumer
    * view upgraded to a principled allocator. */
  val t79UnimaxMix: QuerySpec = QuerySpec.sql(
    "t79_unimax_mix",
    s"""WITH c0 AS (
       |  SELECT source, CAST(SUM(len(list_filter($ToksSql, x -> x <> '')))
       |    AS BIGINT) AS capacity
       |  FROM documents GROUP BY 1),
       |b0 AS (SELECT source, capacity,
       |         capacity * $UniMaxEpochs AS ceil_tokens FROM c0),
       |n0 AS (SELECT COUNT(*) AS n,
       |         CAST(SUM(ceil_tokens) * 9 // 10 AS BIGINT) AS t FROM b0),
       |rk AS (SELECT source, capacity, ceil_tokens,
       |         ROW_NUMBER() OVER (ORDER BY ceil_tokens, source) AS rn,
       |         COALESCE(SUM(ceil_tokens) OVER (ORDER BY ceil_tokens, source
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS pfx
       |       FROM b0),
       |lv AS (SELECT rk.*, n0.n, n0.t,
       |         CAST(t - pfx AS DOUBLE) / (n - rn + 1) AS lvl
       |       FROM rk, n0),
       |mm AS (SELECT COALESCE(MIN(rn) - 1, (SELECT n FROM n0)) AS m
       |       FROM lv WHERE ceil_tokens > lvl),
       |fin AS (SELECT lv.source, lv.capacity, lv.ceil_tokens,
       |         CAST(lv.rn AS BIGINT) AS rn, (lv.rn <= mm.m) AS capped,
       |         CASE WHEN lv.rn <= mm.m THEN CAST(lv.ceil_tokens AS DOUBLE)
       |              ELSE (SELECT l2.lvl FROM lv l2, mm
       |                    WHERE l2.rn = mm.m + 1) END AS allocation
       |       FROM lv, mm)
       |SELECT source, capacity, ceil_tokens, rn, capped, allocation,
       |  allocation / capacity AS epochs
       |FROM fin ORDER BY source""".stripMargin) { (s, d) =>
    val c0 = Tables.documents(s, d)
      .select(col("source"),
        size(filter(tokens(col("text")), w => w =!= "")).cast("long")
          .as("nt"))
      .groupBy("source").agg(sum("nt").as("capacity"))
    val b0 = c0.withColumn("ceil_tokens", col("capacity") * UniMaxEpochs)
    val n0 = b0.agg(count(lit(1)).as("n"),
      (sum("ceil_tokens") * 9 / lit(10)).cast("long").as("t"))
    val ordW = org.apache.spark.sql.expressions.Window
      .orderBy(col("ceil_tokens"), col("source"))
    val pfxW = ordW.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val lv = b0
      .withColumn("rn", row_number().over(ordW).cast("long"))
      .withColumn("pfx", coalesce(sum("ceil_tokens").over(pfxW), lit(0L)))
      .crossJoin(broadcast(n0))
      .withColumn("lvl",
        (col("t") - col("pfx")).cast("double") / (col("n") - col("rn") + 1))
    val mm = lv
      .agg(coalesce(min(when(col("ceil_tokens") > col("lvl"), col("rn"))) - 1,
        max("n")).as("m"))
    val lstar = lv.crossJoin(broadcast(mm))
      .filter(col("rn") === col("m") + 1)
      .select(col("lvl").as("lstar"))
    val fin = lv.crossJoin(broadcast(mm))
      .join(broadcast(lstar), org.apache.spark.sql.functions.lit(true),
        "left")
      .select(col("source"), col("capacity"), col("ceil_tokens"), col("rn"),
        (col("rn") <= col("m")).as("capped"),
        when(col("rn") <= col("m"), col("ceil_tokens").cast("double"))
          .otherwise(col("lstar")).as("allocation"))
    fin.select(col("source"), col("capacity"), col("ceil_tokens"), col("rn"),
        col("capped"), col("allocation"),
        (col("allocation") / col("capacity")).as("epochs"))
      .orderBy("source")
  }

  val all: Seq[QuerySpec] =
    Seq(t71DsirWeights, t71bDsirSample, t72GopherRules, t72bC4Rules,
      t73LineDedup, t74CurationV2, t79UnimaxMix)
}
