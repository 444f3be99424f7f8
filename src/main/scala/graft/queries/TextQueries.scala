package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalysis._

/** Training-data curation operators over `documents` (beyond-reference
  * north star): exact + near dedup (MinHash/LSH, SimHash, n-gram
  * Jaccard), language ID, quality scoring, token counting, document
  * fingerprinting. All hashes are portable md5-hex (see TextAnalysis)
  * so every query has a full DuckDB oracle.
  *
  * Scale shape: tokenize/shingle/signature stages are scan-local
  * (narrow); the only shuffles are the LSH band self-join (keyed on
  * band buckets — at 100 TB this is the classic band-bucket join whose
  * fan-in is bounded by bucket size) and the final groupBys. No
  * all-pairs products anywhere except inside a bucket / lang partition.
  */
object TextQueries {

  // Shared SQL snippets (DuckDB side) — keep in lockstep with
  // TextAnalysis.normText/tokens/shingles.
  private[queries] val NormSql =
    "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
  private[queries] val ToksSql = s"string_split($NormSql, ' ')"
  private[queries] val ShinglesOverToks =
    """CASE WHEN len(toks) >= 3
      |     THEN list_transform(range(1, len(toks) - 1),
      |            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      |     ELSE [array_to_string(toks, ' ')] END""".stripMargin

  /** T1 — exact dedup by content hash of the canonical normal form:
    * hash-groupBy, keeper = min doc_id (deterministic). */
  val t1ExactDedup: QuerySpec = QuerySpec.sql(
    "t1_exact_dedup",
    s"""SELECT md5($NormSql) AS content_hash,
       |  MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
       |FROM documents
       |GROUP BY 1
       |ORDER BY content_hash""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(normText(col("text"))).as("content_hash"))
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_docs"))
      .orderBy("content_hash")
  }

  // the shared minhash-LSH operating point (TextAnalysis owns it so
  // the streaming near-dup path bands identically)
  private val K = MinhashK
  private val R = LshRows
  private val B = LshBands

  /** Signature-agreement count between sig rows aliased `x` and `y`
    * (DuckDB side) — shared by the full-pair and star-edge filters so
    * the ≥ K/2 operating point is one definition. */
  private val SigMatchSql: String = (0 until K).map(i =>
    s"CASE WHEN x.sig_$i = y.sig_$i THEN 1 ELSE 0 END").mkString(" + ")

  /** DuckDB CTE chain `t → sh → hvs → sigs → bands` over the docs
    * relation `rel` — the shared MinHash-signature + band-key
    * derivation every near-dup variant (full pairs, star edges, the
    * rep-collapsed pipeline) builds on, parameterized so t34 can run
    * it over the exact-dedup representatives instead of raw
    * `documents`. */
  /** Name of the tokenized-docs CTE `(doc_id, toks)` that
    * [[nearDupBaseCtes]] opens its chain with — part of the EXPORTED
    * contract of the near-dup CTE chains (GraphQueries' seeds CTE
    * selects from it), not an internal detail: a rename inside the
    * chain must change this constant, which downstream oracle SQL
    * references instead of the bare literal (ADVICE r17). */
  private[queries] val NearDupToksRel = "t"

  private def nearDupBaseCtes(rel: String): String = {
    val P = MinhashP
    val sigDefsSql = (0 until K).map(i =>
      s"list_aggregate(list_transform(hv, v -> (v * ${minhashA(i)} + ${minhashB(i)}) % $P), 'min') AS sig_$i")
      .mkString(",\n  ")
    val bandsSql = (0 until B).map { b =>
      val cols = (0 until R).map(r => s"sig_${b * R + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cols)) AS bkey FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""$NearDupToksRel AS (SELECT doc_id, $ToksSql AS toks FROM $rel),
       |sh AS (SELECT doc_id, $ShinglesOverToks AS s FROM $NearDupToksRel),
       |hvs AS (SELECT doc_id, list_transform(s,
       |  x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % $P) AS hv FROM sh),
       |sigs AS (SELECT doc_id,
       |  $sigDefsSql
       |FROM hvs),
       |bands AS (
       |  $bandsSql
       |)""".stripMargin
  }

  /** The FULL within-bucket pair CTEs (`cand`, `pairs`) appended to
    * [[nearDupBaseCtes]] — C(m,2) candidates per bucket. */
  private val NearDupPairCtes: String =
    s"""cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |),
       |pairs AS (
       |  SELECT d1, d2, ($SigMatchSql) AS sig_matches,
       |    CAST(($SigMatchSql) AS DOUBLE) / $K AS sig_frac
       |  FROM cand JOIN sigs x ON d1 = x.doc_id JOIN sigs y ON d2 = y.doc_id
       |  WHERE ($SigMatchSql) >= ${K / 2}
       |)""".stripMargin

  /** STAR-topology edge CTEs (`hubs`, `scand`, `star_pairs`) appended
    * to [[nearDupBaseCtes]] — each bucket member pairs ONLY with the
    * bucket-min hub: m−1 edges per bucket instead of C(m,2), the
    * linear-in-duplication-depth feed for connected components (see
    * t32's scaladoc for the scale rationale). Shares `bands`/`sigs`
    * and the ≥ K/2 filter with the full-pair CTEs. */
  private val StarPairCtes: String =
    s"""hubs AS (
       |  SELECT band, bkey, MIN(doc_id) AS hub FROM bands GROUP BY band, bkey
       |),
       |scand AS (
       |  SELECT DISTINCT h.hub AS d1, b.doc_id AS d2
       |  FROM bands b JOIN hubs h ON b.band = h.band AND b.bkey = h.bkey
       |  WHERE b.doc_id <> h.hub
       |),
       |star_pairs AS (
       |  SELECT d1, d2
       |  FROM scand JOIN sigs x ON d1 = x.doc_id JOIN sigs y ON d2 = y.doc_id
       |  WHERE ($SigMatchSql) >= ${K / 2}
       |)""".stripMargin

  /** DuckDB CTE chain ending in `pairs(d1, d2, sig_matches, sig_frac)`
    * — the filtered MinHash-LSH near-dup pair set over `documents`.
    * Shared by the t2 oracle and t21's recursive-CTE clustering oracle
    * so the two can never disagree on what an edge is. */
  private[queries] val NearDupPairsCtesSql: String =
    nearDupBaseCtes("documents") + ",\n" + NearDupPairCtes

  /** CTE chain ending in `star_pairs(d1, d2)` — the hub-topology edge
    * set (m−1 edges per bucket, linear in duplication depth), shared
    * with t32 so t81c's "scalable graph" is exactly the one the CC
    * production tier consumes. */
  private[queries] val NearDupStarCtesSql: String =
    nearDupBaseCtes("documents") + ",\n" + StarPairCtes

  /** Spark twin of [[NearDupPairsCtesSql]]: the filtered near-dup pair
    * set (d1 < d2), unordered.
    *
    * Plan shape (the 100 TB-critical part): signatures live in one
    * array column carried THROUGH the band explode and self-join, so
    * no join-back to a signature table is ever needed; the only
    * shuffles are the band-bucket self-join and the pair dedup.
    * localCheckpoint materializes the signature table ONCE and
    * truncates lineage — otherwise each side of the self-join
    * recomputes the whole shingle+hash scan (the standard move for
    * reuse-heavy self-joins over expensive derivations). */
  private def nearDupPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    nearDupPairsOf(Tables.documents(s, d))

  /** Checkpointed (doc_id, sig) MinHash signature table over an
    * arbitrary docs frame — the shared derivation under every near-dup
    * variant, parameterized so t34 can run it over exact-dedup
    * representatives. */
  /** The (doc_id, sig) MinHash-signature projection — pure shared
    * expressions, STREAMING-SAFE (no checkpoint): the batch paths wrap
    * it in [[nearDupSigs]]'s localCheckpoint; the streaming scorecard
    * spec runs it over a readStream frame. */
  private def sigProjectionOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sigProjectionOfToks(docs
      .select(col("doc_id"), tokens(col("text")).as("toks")))

  /** [[sigProjectionOf]] over an ALREADY-TOKENIZED (doc_id, toks)
    * frame — for callers that reuse one tokenize pass across the
    * near-dup pipeline and their own derivations (t81's seed). */
  private[queries] def sigProjectionOfToks(
      toks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // one codegen pass for the whole K-element signature (r21,
    // [[graft.plans.MinhashSigs]]): same md5-60-bit base, same
    // Carter–Wegman minima, same values — the former form paid K+1
    // interpreted lambdas and K+1 intermediate arrays per document
    toks
      .select(col("doc_id"), shingles(col("toks"), 3).as("s"))
      .select(col("doc_id"),
        call_function("minhash_sigs", col("s"), lit(K)).as("sig"))

  private def nearDupSigs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sigProjectionOf(docs).localCheckpoint()

  /** (doc_id, sig, band, bkey): one row per band key, signature array
    * carried through so no join-back to the signature table is needed. */
  private def nearDupBands(
      sigs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bandCols = (0 until B).map { b =>
      bandKey((0 until R).map(r => element_at(col("sig"), b * R + r + 1)))
    }
    sigs.select(col("doc_id"), col("sig"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bkey")))
  }

  /** Spark twin of [[SigMatchSql]] over carried sig arrays sx/sy —
    * codegen'd ([[graft.plans.LongArrayEqCount]]; INT like the
    * size(filter(zip_with)) form it replaces). */
  private def sigMatches: org.apache.spark.sql.Column =
    call_function("long_eq_count", col("sx"), col("sy"))

  private[queries] def nearDupPairsOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    nearDupPairsOfBands(nearDupBands(nearDupSigs(docs)))

  /** [[nearDupPairsOf]] over an already-tokenized frame — the
    * checkpoint sits on the signature table exactly as in the docs
    * path, so the band self-join still materializes it once. */
  private[queries] def nearDupPairsOfToks(
      toks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    nearDupPairsOfBands(
      nearDupBands(sigProjectionOfToks(toks).localCheckpoint()))

  private def nearDupPairsOfBands(
      bands: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.sig").as("sx"), col("b.sig").as("sy"))
      // match count computed BEFORE the (d1, d2) dedup (r21, guide
      // §2.3 "shuffle keys, not payloads"): sig_matches is a function
      // of (d1, d2), so deduping rows that carry the scalar instead of
      // the two K-long signature arrays is value-identical and ships
      // ~2·K·8 fewer bytes per candidate through the exchange.
      .select(col("d1"), col("d2"), sigMatches.as("sig_matches"))
      // the screen is a function of (d1, d2): filtering BEFORE the
      // dedup exchange is value-identical and ships fewer rows
      .filter(col("sig_matches") >= K / 2)
      .dropDuplicates("d1", "d2")
    cand
      .select(col("d1"), col("d2"), col("sig_matches"),
        (col("sig_matches").cast("double") / K).as("sig_frac"))
  }

  /** The (doc_id, sig, band, bkey) band index over a docs frame — the
    * standing structure t38's incremental probe joins against. Exposed
    * for the ScaleCheck bucketed-index demonstration, which measures
    * what writing this index bucketed by its join key buys. */
  private[graft] def bandIndexOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    nearDupBands(nearDupSigs(docs))

  /** [[bandIndexOf]] without the checkpoint — the STREAMING-SAFE band
    * projection: pure shared expressions over an unbounded frame, so a
    * crawl pipeline can persist the (doc_id, sig, band, bkey) index as
    * documents arrive (this IS the standing LSH index t38 probes) and
    * publish-time clustering reads the accumulated table. */
  private[graft] def bandProjectionOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    nearDupBands(sigProjectionOf(docs))

  /** Spark twin of [[StarPairCtes]]: per (band, bkey) bucket, each
    * member pairs ONLY with the bucket-min hub (m−1 edges, not
    * C(m,2)), then the same ≥ K/2 signature screen. d1 < d2 holds by
    * construction (the hub is the bucket min). The hub's signature
    * rides in a `min(struct(doc_id, sig))` aggregate — struct ordering
    * is by leading field, and doc_id is unique — so no join back to
    * the signature table is needed on either side. */
  private[queries] def nearDupStarEdgesOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    starEdgesOfBands(nearDupBands(nearDupSigs(docs)))

  /** [[nearDupStarEdgesOf]] over an already-tokenized frame — the
    * t81c seam, mirroring [[nearDupPairsOfToks]]. */
  private[queries] def nearDupStarEdgesOfToks(
      toks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    starEdgesOfBands(
      nearDupBands(sigProjectionOfToks(toks).localCheckpoint()))

  /** The hub-election + signature-screen half of the star-edge build,
    * over an ALREADY-MATERIALIZED (doc_id, sig, band, bkey) frame —
    * factored so a finalize pass over a STREAMED band index (the
    * scorecard e2e spec) runs the exact operator the batch tier runs,
    * and the two cannot drift. */
  private[graft] def starEdgesOfBands(
      bands: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val hubs = bands.groupBy("band", "bkey")
      .agg(min(struct(col("doc_id"), col("sig"))).as("h"))
    bands.join(hubs, Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("h.doc_id"))
      .select(col("h.doc_id").as("d1"), col("doc_id").as("d2"),
        col("h.sig").as("sx"), col("sig").as("sy"))
      // match count + screen before the dedup — see nearDupPairsOfBands
      .select(col("d1"), col("d2"), sigMatches.as("sig_matches"))
      .filter(col("sig_matches") >= K / 2)
      .dropDuplicates("d1", "d2")
      .select(col("d1"), col("d2"))
  }

  /** T2 — MinHash + LSH near-dup candidate pairs: shingle → K-element
    * signature → B band keys → band-bucket self-join → signature
    * agreement fraction. Pairs with ≥ K/2 matching signature elements
    * (est. Jaccard ≥ 0.5) survive. */
  val t2MinhashLsh: QuerySpec = QuerySpec.sql(
    "t2_minhash_lsh",
    s"""WITH $NearDupPairsCtesSql
       |SELECT d1, d2, sig_matches, sig_frac FROM pairs
       |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    nearDupPairs(s, d).orderBy("d1", "d2")
  }

  /** T21 — near-dup CLUSTER resolution: connected components over the
    * t2 pair graph (the step a real dedup pipeline runs after pair
    * generation — pairs alone over-delete when A~B and B~C but A≁C).
    * Every document gets the min doc_id of its component as
    * cluster_id; `is_keeper` marks the one row per cluster a
    * dedup-and-keep pass would retain. Oracle: DuckDB recursive CTE
    * propagating labels over the SAME pair CTEs. */
  val t21DupClusters: QuerySpec = QuerySpec.sql(
    "t21_dup_clusters",
    s"""WITH RECURSIVE $NearDupPairsCtesSql,
       |sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
       |        UNION ALL SELECT d2, d1 FROM pairs),
       |reach(node, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT sym.dst, reach.label FROM reach JOIN sym ON reach.node = sym.src
       |),
       |cc AS (SELECT node AS doc_id, MIN(label) AS cluster_id
       |       FROM reach GROUP BY node)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  doc_id = cluster_id AS is_keeper
       |FROM cc
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    buildDupClusters(s, d).orderBy("doc_id")
  }

  /** t21's cluster frame, built fresh and recorded for reuse. The CC
    * loop executes EAGERLY (localCheckpoint per round), so any second
    * build in the same process — t28 composing on a t21 that already
    * ran — would pay the whole iterative clustering again; the final
    * checkpoint makes reuse a block read instead. On a cluster the
    * same contract is "materialize the cluster table once, join
    * downstream consumers against it", not a per-query rebuild. */
  // entries are keyed by (session, dir) with a Clustering.fingerprint
  // of documents.parquet as the validity stamp — an in-process rewrite
  // of the dir rebuilds (never serves stale), and each re-record
  // releases the superseded checkpoint's blocks (ADVICE r14)
  private val dupClustersMemo =
    new Clustering.Memo[(org.apache.spark.sql.SparkSession, String)]

  private def docsPrefix(s: org.apache.spark.sql.SparkSession, d: String) =
    (s, d)
  private def docsStamp(d: String) = Clustering.fingerprint(d, "documents")

  private def buildDupClusters(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val edges = nearDupPairs(s, d).select(col("d1"), col("d2"))
    val nodes = Tables.documents(s, d).select(col("doc_id").as("id"))
    val cc = graft.ops.ConnectedComponents.labels(edges, "d1", "d2", nodes, "id")
    dupClustersMemo.record(docsPrefix(s, d), docsStamp(d),
      Clustering.frame(cc, "doc_id").localCheckpoint())
  }

  /** The reuse path consumers compose on: the recorded frame if this
    * process already built t21 for (session, dir, fingerprint), else a
    * fresh build. */
  private def dupClustersReused(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    dupClustersMemo.reuse(docsPrefix(s, d), docsStamp(d))(buildDupClusters(s, d))

  private val starClustersMemo =
    new Clustering.Memo[(org.apache.spark.sql.SparkSession, String)]

  /** Fresh star-edge cluster build, recorded for reuse — mirrors
    * [[buildDupClusters]]: direct t32 runs always rebuild (bench/scale
    * numbers stay honest), composing consumers (t33) read the recorded
    * checkpoint. */
  private def buildStarClusters(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val edges = nearDupStarEdgesOf(Tables.documents(s, d))
    val nodes = Tables.documents(s, d).select(col("doc_id").as("id"))
    val cc = graft.ops.ConnectedComponents.labels(edges, "d1", "d2", nodes, "id")
    starClustersMemo.record(docsPrefix(s, d), docsStamp(d),
      Clustering.frame(cc, "doc_id").localCheckpoint())
  }

  private def starClustersReused(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    starClustersMemo.reuse(docsPrefix(s, d), docsStamp(d))(buildStarClusters(s, d))

  /** T32 — near-dup clusters over the STAR edge feed: the
    * linear-in-duplication-depth variant of t21. The ×100 scale run
    * (COVERAGE.md round-10) showed why this exists: full within-bucket
    * pair emission is C(g,2) in dup-group size g, so a corpus whose
    * mirror families are 100 deep turned 10× the docs into 106× the
    * edges and CC over them blew past 45 min. A bucket of m members
    * needs only m−1 hub edges for CONNECTIVITY — star edges make the
    * CC feed linear in corpus size regardless of duplication depth,
    * which is the production formulation for crawl-scale dedup.
    * Trade-off: star edges are a SUBSET of the full pairs (the hub
    * pair (hub,m) is itself a full-pair candidate), so components can
    * only split, never merge, relative to t21 — a member whose hub
    * edge fails the ≥ K/2 signature screen loses the link a
    * member-member edge might have kept. t33 quantifies exactly that
    * cost under the driver gate. */
  val t32StarClusters: QuerySpec = QuerySpec.sql(
    "t32_star_clusters",
    s"""WITH RECURSIVE ${nearDupBaseCtes("documents")},
       |$StarPairCtes,
       |sym AS (SELECT d1 AS src, d2 AS dst FROM star_pairs
       |        UNION ALL SELECT d2, d1 FROM star_pairs),
       |reach(node, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT sym.dst, reach.label FROM reach JOIN sym ON reach.node = sym.src
       |),
       |cc AS (SELECT node AS doc_id, MIN(label) AS cluster_id
       |       FROM reach GROUP BY node)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  doc_id = cluster_id AS is_keeper
       |FROM cc
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    buildStarClusters(s, d).orderBy("doc_id")
  }

  /** T33 — star-vs-full clustering PARITY gate (the t30 idea applied
    * to the t32 edge reduction): one summary row counting docs whose
    * star cluster equals their full-t21 cluster, plus the cluster
    * counts on each side. Star edges ⊆ full pairs, so star clustering
    * is a refinement — n_agree ≤ n_docs and n_clusters_star ≥
    * n_clusters_full always; the gate pins the measured split cost at
    * the committed operating point so a K/R/B retune that degrades the
    * star feed flips this row. Both sides reuse the per-process
    * memoized cluster frames, so the gate adds two joins, not two CC
    * loops. */
  val t33StarParity: QuerySpec = QuerySpec.sql(
    "t33_star_parity",
    s"""WITH RECURSIVE $NearDupPairsCtesSql,
       |$StarPairCtes,
       |sym_f AS (SELECT d1 AS src, d2 AS dst FROM pairs
       |          UNION ALL SELECT d2, d1 FROM pairs),
       |reach_f(node, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT sym_f.dst, reach_f.label
       |  FROM reach_f JOIN sym_f ON reach_f.node = sym_f.src
       |),
       |cc_f AS (SELECT node, MIN(label) AS cluster_id
       |         FROM reach_f GROUP BY node),
       |sym_s AS (SELECT d1 AS src, d2 AS dst FROM star_pairs
       |          UNION ALL SELECT d2, d1 FROM star_pairs),
       |reach_s(node, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT sym_s.dst, reach_s.label
       |  FROM reach_s JOIN sym_s ON reach_s.node = sym_s.src
       |),
       |cc_s AS (SELECT node, MIN(label) AS cluster_id
       |         FROM reach_s GROUP BY node)
       |SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN f.cluster_id = s.cluster_id
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  COUNT(DISTINCT f.cluster_id) AS n_clusters_full,
       |  COUNT(DISTINCT s.cluster_id) AS n_clusters_star
       |FROM cc_f f JOIN cc_s s ON f.node = s.node""".stripMargin) { (s, d) =>
    val full = dupClustersReused(s, d)
      .select(col("doc_id"), col("cluster_id").as("cf"))
    val star = starClustersReused(s, d)
      .select(col("doc_id"), col("cluster_id").as("cs"))
    full.join(star, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cf") === col("cs"), 1L).otherwise(0L)).as("n_agree"),
        countDistinct("cf").as("n_clusters_full"),
        countDistinct("cs").as("n_clusters_star"))
  }

  /** T34 — the PRODUCTION dedup pipeline order: collapse EXACT
    * duplicates first (t1's hash-groupBy — cheap), run near-dup over
    * the per-hash representatives only, then map every document back
    * through its representative. At crawl scale this is the other half
    * of the ×100 mitigation: byte-identical mirror families (the
    * common case) collapse to ONE node before the quadratic-prone LSH
    * stage ever sees them, so near-dup cost scales with DISTINCT
    * content, not raw row count. Semantics: exact dups share identical
    * shingle sets → identical signatures and band keys → any
    * cross-group full pair implies the same rep-level pair with the
    * same signature agreement, so t34's clusters EQUAL t21's (the
    * RepDedupPipelineSpec pins that equivalence; the driver gate pins
    * the composition independently). Cluster labels are min doc_ids:
    * a rep is its exact group's min, and CC labels are min reps, so
    * mapped-back labels are the true component minima. */
  val t34RepDedup: QuerySpec = QuerySpec.sql(
    "t34_rep_dedup",
    s"""WITH RECURSIVE chash AS (
       |  SELECT doc_id, md5($NormSql) AS ch FROM documents),
       |km AS (SELECT ch, MIN(doc_id) AS keeper FROM chash GROUP BY ch),
       |dk AS (SELECT c.doc_id, k.keeper FROM chash c JOIN km k ON c.ch = k.ch),
       |reps AS (SELECT d.* FROM documents d JOIN km ON d.doc_id = km.keeper),
       |${nearDupBaseCtes("reps")},
       |$NearDupPairCtes,
       |sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
       |        UNION ALL SELECT d2, d1 FROM pairs),
       |reach(node, label) AS (
       |  SELECT keeper, keeper FROM km
       |  UNION
       |  SELECT sym.dst, reach.label FROM reach JOIN sym ON reach.node = sym.src
       |),
       |cc AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
       |fin AS (SELECT dk.doc_id, cc.cluster_id
       |        FROM dk JOIN cc ON dk.keeper = cc.node)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  doc_id = cluster_id AS is_keeper
       |FROM fin
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    buildRepDedup(s, d).orderBy("doc_id")
  }

  private val repDedupMemo =
    new Clustering.Memo[(org.apache.spark.sql.SparkSession, String)]

  /** Fresh t34 rep-collapsed cluster build, recorded for reuse — the
    * [[buildDupClusters]] pattern: direct t34 runs always rebuild,
    * composing consumers (t28) read the recorded checkpoint. */
  private def buildRepDedup(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    // checkpoint: chash feeds dk's both sides AND the reps screen — the
    // full-text normalize+md5 scan must run once, not three times
    val chash = docs.select(col("doc_id"), md5(normText(col("text"))).as("ch"))
      .localCheckpoint()
    val km = chash.groupBy("ch").agg(min("doc_id").as("keeper"))
    val dk = chash.join(km, "ch").select(col("doc_id"), col("keeper"))
    val reps = docs.join(km.select(col("keeper").as("doc_id")), "doc_id")
    val edges = nearDupPairsOf(reps).select(col("d1"), col("d2"))
    val nodes = km.select(col("keeper").as("id"))
    val cc = graft.ops.ConnectedComponents.labels(edges, "d1", "d2", nodes, "id")
    val fin = dk.join(
      cc.select(col("id").as("keeper"), col("label").as("cluster_id")),
      "keeper")
    val sized = fin.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    repDedupMemo.record(docsPrefix(s, d), docsStamp(d),
      fin.join(sized, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("is_keeper"))
        .localCheckpoint())
  }

  private def repDedupReused(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    repDedupMemo.reuse(docsPrefix(s, d), docsStamp(d))(buildRepDedup(s, d))

  /** T31b — the SimHash near-dup SCALE operating point (the t10b
    * lesson applied to the third near-dup family): t31's 32-bit
    * fingerprint with 8-bit bands has a bucket space of only 4×256 —
    * at 500k docs the ×100 sweep shows buckets averaging thousands of
    * members and the C(m,2) candidate join never finishing. The scale
    * variant widens to a 64-bit fingerprint with 16-bit bands (bucket
    * space 4×65536); pigeonhole still makes recall at hamming ≤ 3
    * EXACT (4 bands, ≤3 differing bits ⇒ one band equal). The four
    * band keys stay SEPARATE 16-bit ints — no packed 64-bit value, so
    * no signed-shift/overflow portability edge anywhere — and hamming
    * is the sum of four 16-bit bit_count(xor) terms.
    *
    * Features are 3-gram SHINGLES, not tokens (the Manku/Charikar
    * web-dedup form): token-level bits over a small vocabulary are
    * CORRELATED across unrelated documents, so band keys concentrate
    * in a few hot buckets and the self-join explodes regardless of
    * band width — measured at ×100, the token-feature variant spilled
    * the disk to death. Shingle md5s are ~independent, so unrelated
    * docs spread uniformly over the 65536-bucket space while
    * near-identical docs still agree. */
  // ---- Wide SimHash (64-bit shingle-feature fingerprint, 16-bit
  // bands): ONE definition of the fingerprint, band keys and pair rule
  // shared by t31b and its recall gate t42, in both SQL and Spark
  // forms, so the two cannot drift.
  private def simhashWideBandSql(i: Int): String = (0 until 16).map { j =>
    s"(CASE WHEN s_${16 * i + j} > 0 THEN ${1L << (15 - j)} ELSE 0 END)"
  }.mkString("(", " + ", ")")

  /** DuckDB CTE chain `t -> sh0 -> h -> agg -> fpt -> bands` ending in
    * the per-(band,bkey) rows; `fpt` carries the four 16-bit band
    * values b0..b3 per doc. Parameterized by the docs relation so t42
    * can run it over the bounded sample only (per-doc fingerprints
    * are corpus-independent). */
  private def simhashWideCtes(rel: String): String = {
    val aggSql = (0 until 64).map(simhashBitSql).mkString(",\n  ")
    s"""t AS (SELECT doc_id, $ToksSql AS toks FROM $rel),
       |sh0 AS (SELECT doc_id, unnest($ShinglesOverToks) AS tok FROM t),
       |h AS (SELECT doc_id, md5(tok) AS hh FROM sh0),
       |agg AS (SELECT doc_id,
       |  $aggSql
       |FROM h GROUP BY doc_id),
       |fpt AS (SELECT doc_id, ${(0 until 4).map(i =>
           s"${simhashWideBandSql(i)} AS b$i").mkString(", ")} FROM agg),
       |bands AS (SELECT doc_id, b0, b1, b2, b3, t.band,
       |    CASE t.band WHEN 0 THEN b0 WHEN 1 THEN b1
       |                WHEN 2 THEN b2 ELSE b3 END AS bkey
       |  FROM fpt, range(0, 4) t(band))""".stripMargin
  }

  /** The near-dup threshold: pigeonhole over 4 bands is exact for
    * hamming <= bands - 1; one definition for every SQL/Spark site. */
  private val SimhashHammingMax = 3

  /** Banded hamming over two `fpt`-shaped relations aliased a/b. */
  private def simhashWideHammingSql(a: String, b: String): String =
    (0 until 4).map(i => s"bit_count(xor($a.b$i, $b.b$i))").mkString(" + ")

  /** Spark twin of [[simhashWideHammingSql]]. */
  private def simhashWideHammingCol(a: String,
      b: String): org.apache.spark.sql.Column =
    (0 until 4).map(i => expr(s"bit_count($a.b$i ^ $b.b$i)")).reduce(_ + _)

  /** The production pair rule: band-bucket candidates, hamming <= 3
    * screened BEFORE the pair dedup (narrow distinct exchange). */
  private val SimhashWidePairCte: String =
    s"""cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |    (${simhashWideHammingSql("a", "b")}) AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  WHERE (${simhashWideHammingSql("a", "b")}) <= $SimhashHammingMax)"""
      .stripMargin

  /** Spark twin of the `fpt` CTE: checkpointed (doc_id, b0..b3) —
    * 5 narrow cols per doc, bounded, not corpus-sized. */
  private def simhashWideFptOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // bit field form (r21): one md5_prefix long per shingle feeds all
    // 64 ±1 contributions as shifts — the hex form paid an
    // instr+substring per BIT per shingle (64 string ops each)
    val aggs = (0 until 64).map(b =>
      sum(simhashContribBits(col("hv"), b, 64)).as(s"s_$b"))
    def bandCol(i: Int): org.apache.spark.sql.Column = (0 until 16).map { j =>
      when(col(s"s_${16 * i + j}") > 0, lit(1L << (15 - j))).otherwise(0L)
    }.reduce(_ + _)
    docs
      .select(col("doc_id"),
        explode(shingles(tokens(col("text")), 3)).as("tok"))
      .withColumn("hv", call_function("md5_prefix", col("tok"), lit(16)))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id") +: (0 until 4).map(i => bandCol(i).as(s"b$i")): _*)
      .localCheckpoint()
  }

  /** Spark twin of [[SimhashWidePairCte]] over a `fpt` frame. */
  private def simhashWidePairs(
      fpt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bands = fpt.select(col("doc_id"), col("b0"), col("b1"), col("b2"),
      col("b3"), posexplode(array(col("b0"), col("b1"), col("b2"),
        col("b3"))).as(Seq("band", "bkey")))
    // hamming computed and filtered BEFORE the pair dedup, so the
    // distinct exchange carries only surviving pairs at 3 narrow
    // columns — not every within-bucket candidate at 10-column width
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        simhashWideHammingCol("a", "b").cast("int").as("hamming"))
      .filter(col("hamming") <= SimhashHammingMax)
      .dropDuplicates("d1", "d2") // hamming is a function of d1/d2
  }

  val t31bSimhashScale: QuerySpec = QuerySpec.sql(
    "t31b_simhash_scale",
    s"""WITH ${simhashWideCtes("documents")},
       |$SimhashWidePairCte
       |SELECT d1, d2, CAST(hamming AS INT) AS hamming
       |FROM cand
       |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    simhashWidePairs(simhashWideFptOf(Tables.documents(s, d)))
      .orderBy("d1", "d2")
  }

  /** T42 — SimHash recall GATE (t30's role for the t31b family): the
    * pigeonhole argument says recall at hamming ≤ [[SimhashHammingMax]]
    * is EXACT — every truth pair must be found, always, not
    * probabilistically. Ground truth = brute-force all-pairs banded
    * hamming over the bounded doc_id < 1000 sample (the t30 idiom:
    * scale-up copies get offset ids, so the sample stays bounded at
    * any scale factor); candidates = the SAME wide-band pair rule the
    * production query runs, restricted to the sample (band keys are
    * corpus-independent, so sample banding equals full-corpus banding
    * restricted — and the gate must not cost a full production run).
    *
    * The ORACLE does not recompute `found` — it asserts the THEOREM
    * (`TRUE AS found`). That is what makes this a gate rather than a
    * mirror: if the implementation (or a future edit to the shared
    * pair rule, even one applied consistently to BOTH engines' pair
    * sides) ever loses a truth pair, Spark's computed `found` goes
    * false against the oracle's constant and the driver hash flips.
    * A mirrored oracle would reproduce the break and stay green. */
  val t42SimhashRecall: QuerySpec = QuerySpec.sql(
    "t42_simhash_recall",
    s"""WITH ${simhashWideCtes(
           "(SELECT * FROM documents WHERE doc_id < 1000)")},
       |truth AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    (${simhashWideHammingSql("a", "b")}) AS hamming
       |  FROM fpt a JOIN fpt b ON a.doc_id < b.doc_id
       |  WHERE (${simhashWideHammingSql("a", "b")}) <= $SimhashHammingMax)
       |SELECT t.d1, t.d2, CAST(t.hamming AS INT) AS hamming,
       |  TRUE AS found
       |FROM truth t
       |ORDER BY t.d1, t.d2""".stripMargin) { (s, d) =>
    val fpt = simhashWideFptOf(
      Tables.documents(s, d).filter(col("doc_id") < 1000))
    val truth = fpt.as("a")
      .join(fpt.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        simhashWideHammingCol("a", "b").cast("int").as("hamming"))
      .filter(col("hamming") <= SimhashHammingMax)
    val cand = simhashWidePairs(fpt)
      .select(col("d1").as("cd1"), col("d2").as("cd2"))
    truth
      .join(cand, col("d1") === col("cd1") && col("d2") === col("cd2"),
        "left")
      .select(col("d1"), col("d2"), col("hamming"),
        col("cd1").isNotNull.as("found"))
      .orderBy("d1", "d2")
  }

  /** T37 — BLOCK-LEVEL BOILERPLATE detection (the C4/RefinedWeb
    * line-dedup rule, adapted to this corpus's separator-free text):
    * documents are segmented into consecutive 10-token blocks; a block
    * whose exact text occurs in ≥ 3 distinct documents is boilerplate
    * (nav bars, cookie banners, mirrored footers at crawl scale), and
    * each document reports how much of it is boilerplate plus a keep
    * verdict at the 50% line.
    *
    * Scale shape: segmentation is scan-local; the block
    * document-frequency groupBy is the one big shuffle (two-phase,
    * map-side combined); the ≥ 3 screen then shrinks the boiler set to
    * a sliver that AQE broadcasts for the flagging join, so the corpus
    * never shuffles twice. The exploded block frame feeds both the df
    * count and the flagging join — localCheckpoint materializes that
    * one scan instead of tokenizing the corpus twice. */
  val t37BlockBoilerplate: QuerySpec = QuerySpec.sql(
    "t37_block_boilerplate",
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |blk AS (SELECT doc_id, unnest(list_transform(
       |    range(0, CAST(ceil(len(toks) / 10.0) AS INT)),
       |    i -> array_to_string(toks[i*10+1 : i*10+10], ' '))) AS block
       |  FROM t),
       |dfreq AS (SELECT block, COUNT(DISTINCT doc_id) AS df
       |          FROM blk GROUP BY 1),
       |boiler AS (SELECT block FROM dfreq WHERE df >= 3),
       |flag AS (SELECT b.doc_id, y.block AS hit
       |         FROM blk b LEFT JOIN boiler y ON b.block = y.block)
       |SELECT doc_id, COUNT(*) AS n_blocks,
       |  COUNT(hit) AS n_boiler,
       |  CAST(COUNT(hit) AS DOUBLE) / COUNT(*) AS boiler_frac,
       |  (CAST(COUNT(hit) AS DOUBLE) / COUNT(*) < 0.5) AS keep
       |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    // Spark's sequence(a, b) DESCENDS when b < a (t43's lesson): a
    // zero-token doc would poison sequence(0, -1) into [0, -1] — screen
    // to an empty block array instead (explode then drops the doc, the
    // same as DuckDB's unnest of an empty list)
    val nBlocks = ceil(size(col("toks")) / lit(10.0)).cast("int")
    val blocks = when(nBlocks > 0,
      transform(sequence(lit(0), nBlocks - 1),
        i => concat_ws(" ", slice(col("toks"), i * 10 + 1, lit(10)))))
      .otherwise(array().cast("array<string>"))
    val blk = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(blocks).as("block"))
      .localCheckpoint()
    val boiler = blk.groupBy("block")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= 3)
      .select(col("block"), lit(1).as("hit"))
    val frac = col("n_boiler").cast("double") / col("n_blocks")
    blk.join(boiler, Seq("block"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"), count(col("hit")).as("n_boiler"))
      .select(col("doc_id"), col("n_blocks"), col("n_boiler"),
        frac.as("boiler_frac"), (frac < 0.5).as("keep"))
      .orderBy("doc_id")
  }

  /** T38 — INCREMENTAL (delta) near-dedup: the production ingest
    * pattern. A new batch (docs whose t15 hash-byte < 26, ~10%) is
    * probed against the standing corpus through the SAME LSH band
    * rule as t2 — a batch doc is `dup_corpus` if it near-matches any
    * corpus doc, `dup_batch` if it only near-matches an EARLIER
    * (smaller doc_id) batch doc, else `keep`.
    *
    * Scale shape — the whole point of the operator: candidate
    * generation joins the BATCH side's band keys against the corpus
    * index, so the corpus is probed, never self-paired — cost is
    * (batch band rows) × (bucket fan-in), independent of corpus pair
    * counts. At 100 TB the corpus (band, bkey) index is a bucketed
    * table maintained across ingests and the probe join is
    * shuffle-free on the corpus side; re-pairing the corpus per batch
    * (t2's shape) would redo quadratic work every ingest. */
  val t38DeltaNearDup: QuerySpec = QuerySpec.sql(
    "t38_delta_neardup",
    s"""WITH ${nearDupBaseCtes("documents")},
       |hb AS (SELECT doc_id,
       |    (${idHashByteSql("doc_id")} < $DeltaBatchThreshold) AS is_batch
       |  FROM documents),
       |bcand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a
       |  JOIN hb ha ON a.doc_id = ha.doc_id AND ha.is_batch
       |  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id <> b.doc_id),
       |bhits AS (SELECT d1 AS px, d2 AS py, hy.is_batch AS y_batch
       |  FROM bcand
       |  JOIN sigs x ON bcand.d1 = x.doc_id
       |  JOIN sigs y ON bcand.d2 = y.doc_id
       |  JOIN hb hy ON bcand.d2 = hy.doc_id
       |  WHERE ($SigMatchSql) >= ${K / 2}),
       |agg AS (SELECT px,
       |    COUNT(CASE WHEN NOT y_batch THEN 1 END) AS n_corpus_hits,
       |    COUNT(CASE WHEN y_batch AND py < px THEN 1 END)
       |      AS n_earlier_batch_hits
       |  FROM bhits GROUP BY 1)
       |SELECT h.doc_id,
       |  COALESCE(n_corpus_hits, 0) AS n_corpus_hits,
       |  COALESCE(n_earlier_batch_hits, 0) AS n_earlier_batch_hits,
       |  CASE WHEN COALESCE(n_corpus_hits, 0) > 0 THEN 'dup_corpus'
       |       WHEN COALESCE(n_earlier_batch_hits, 0) > 0 THEN 'dup_batch'
       |       ELSE 'keep' END AS verdict
       |FROM hb h LEFT JOIN agg ON h.doc_id = agg.px
       |WHERE h.is_batch
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val bands = nearDupBands(nearDupSigs(docs.select("doc_id", "text")))
      .withColumn("is_batch", idHashByte(col("doc_id")) < DeltaBatchThreshold)
    val hits = bands.filter(col("is_batch")).as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"),
        col("a.sig").as("sx"), col("b.sig").as("sy"),
        col("b.is_batch").as("y_batch"))
      .dropDuplicates("x", "y") // sx/sy/y_batch are functions of x/y
      .filter(sigMatches >= K / 2)
    val agg = hits.groupBy("x").agg(
      count(when(!col("y_batch"), 1)).as("n_corpus_hits"),
      count(when(col("y_batch") && col("y") < col("x"), 1))
        .as("n_earlier_batch_hits"))
    docs.select(col("doc_id"))
      .filter(idHashByte(col("doc_id")) < DeltaBatchThreshold)
      .join(agg, col("doc_id") === col("x"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_hits"), lit(0)).as("n_corpus_hits"),
        coalesce(col("n_earlier_batch_hits"), lit(0))
          .as("n_earlier_batch_hits"),
        when(coalesce(col("n_corpus_hits"), lit(0)) > 0, "dup_corpus")
          .when(coalesce(col("n_earlier_batch_hits"), lit(0)) > 0, "dup_batch")
          .otherwise("keep").as("verdict"))
      .orderBy("doc_id")
  }

  /** Per-(band, bkey, side) retention cap for t38b's standing index —
    * sized like t10b's probe cap: candidates per probe row are at most
    * 2·cap (one side each), so candidate mass is linear in batch size
    * whatever the corpus's duplication depth. */
  private[queries] val DeltaIndexCap = 8

  /** T38b — DELTA NEAR-DUP AGAINST A BOUNDED STANDING INDEX (the
    * t10b cap pattern applied to ingest): t38 probes the FULL band
    * index, so a bucket holding an m-deep duplicate family contributes
    * ~m candidates per probing batch doc — measured killing the ×1000
    * point (family depth 1000 → ~2×10⁹ candidate rows; the band join's
    * spill exhausted ~90 GB of local scratch and died ENOSPC). Here
    * the standing index retains only the [[DeltaIndexCap]] LOWEST
    * doc_ids per (band, bkey, side): per-bucket fan-in is a constant,
    * candidate mass ≤ 2·cap·(batch band rows) — linear in the batch,
    * independent of duplication depth.
    *
    * Contract shift, stated honestly: hit counts become counts WITHIN
    * the retained index (lower bounds of t38's), and a batch doc dups
    * against the index only if a retained member matches. Lowest-id
    * retention keeps each family's EARLIEST members — the ones the
    * `py < px` earlier-batch rule and the a5 first-seen keeper
    * convention already privilege — so the verdict flips only when a
    * bucket holds > cap DISTINCT near-dup families and the probe's
    * family was evicted wholesale (at which point the bucket is
    * boilerplate-saturated and t37/t61b are the right screens). The
    * oracle implements the SAME capped index (ROW_NUMBER per bucket
    * side), so the gate is cell-exact, not approximate.
    *
    * Plan hygiene vs t38: band rows carry ids only — signatures join
    * back AFTER candidate dedup (two narrow hash joins), instead of
    * riding every band row through the bucket join. */
  val t38bDeltaNearDupProd: QuerySpec = QuerySpec.sql(
    "t38b_delta_neardup_prod",
    s"""WITH ${nearDupBaseCtes("documents")},
       |hb AS (SELECT doc_id,
       |    (${idHashByteSql("doc_id")} < $DeltaBatchThreshold) AS is_batch
       |  FROM documents),
       |bi AS (SELECT b.doc_id, b.band, b.bkey, hb.is_batch,
       |    ROW_NUMBER() OVER (PARTITION BY b.band, b.bkey, hb.is_batch
       |                       ORDER BY b.doc_id) AS rn
       |  FROM bands b JOIN hb ON b.doc_id = hb.doc_id),
       |idx AS (SELECT doc_id, band, bkey, is_batch FROM bi
       |  WHERE rn <= $DeltaIndexCap),
       |bcand AS (SELECT DISTINCT a.doc_id AS d1, i.doc_id AS d2,
       |    i.is_batch AS y_batch
       |  FROM bands a
       |  JOIN hb ha ON a.doc_id = ha.doc_id AND ha.is_batch
       |  JOIN idx i ON a.band = i.band AND a.bkey = i.bkey
       |    AND a.doc_id <> i.doc_id),
       |bhits AS (SELECT d1 AS px, d2 AS py, y_batch
       |  FROM bcand
       |  JOIN sigs x ON bcand.d1 = x.doc_id
       |  JOIN sigs y ON bcand.d2 = y.doc_id
       |  WHERE ($SigMatchSql) >= ${K / 2}),
       |agg AS (SELECT px,
       |    COUNT(CASE WHEN NOT y_batch THEN 1 END) AS n_corpus_hits,
       |    COUNT(CASE WHEN y_batch AND py < px THEN 1 END)
       |      AS n_earlier_batch_hits
       |  FROM bhits GROUP BY 1)
       |SELECT h.doc_id,
       |  COALESCE(n_corpus_hits, 0) AS n_corpus_hits,
       |  COALESCE(n_earlier_batch_hits, 0) AS n_earlier_batch_hits,
       |  CASE WHEN COALESCE(n_corpus_hits, 0) > 0 THEN 'dup_corpus'
       |       WHEN COALESCE(n_earlier_batch_hits, 0) > 0 THEN 'dup_batch'
       |       ELSE 'keep' END AS verdict
       |FROM hb h LEFT JOIN agg ON h.doc_id = agg.px
       |WHERE h.is_batch
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val sigs = nearDupSigs(docs.select("doc_id", "text"))
    val bands = nearDupBands(sigs)
      .select(col("doc_id"), col("band"), col("bkey"))
      .withColumn("is_batch", idHashByte(col("doc_id")) < DeltaBatchThreshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bkey", "is_batch").orderBy("doc_id")
    val idx = bands.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= DeltaIndexCap).drop("rn")
    val cand = bands.filter(col("is_batch")).as("a")
      .join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"),
        col("b.is_batch").as("y_batch"))
      .dropDuplicates("x", "y") // y_batch is a function of y
    val hits = cand
      .join(sigs.select(col("doc_id").as("x"), col("sig").as("sx")), "x")
      .join(sigs.select(col("doc_id").as("y"), col("sig").as("sy")), "y")
      .filter(sigMatches >= K / 2)
    val agg = hits.groupBy("x").agg(
      count(when(!col("y_batch"), 1)).as("n_corpus_hits"),
      count(when(col("y_batch") && col("y") < col("x"), 1))
        .as("n_earlier_batch_hits"))
    docs.select(col("doc_id"))
      .filter(idHashByte(col("doc_id")) < DeltaBatchThreshold)
      .join(agg, col("doc_id") === col("x"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_hits"), lit(0)).as("n_corpus_hits"),
        coalesce(col("n_earlier_batch_hits"), lit(0))
          .as("n_earlier_batch_hits"),
        when(coalesce(col("n_corpus_hits"), lit(0)) > 0, "dup_corpus")
          .when(coalesce(col("n_earlier_batch_hits"), lit(0)) > 0, "dup_batch")
          .otherwise("keep").as("verdict"))
      .orderBy("doc_id")
  }

  /** T40 — SOURCE-MIX REBALANCING (the Dolma/Pile data-mixing step):
    * given a target share per source (here proportional to the
    * source's numeric suffix — a deterministic stand-in for the config
    * a mixing run is handed), compute each source's up/down-weight
    * (target/actual, a single division so parity is exact) and make
    * the keep/drop decision deterministically — each doc's
    * within-source hash rank percentile is compared against the
    * weight, so two runs (or two engines) select the SAME documents,
    * no RNG anywhere (the t15/t22 discipline applied to mixing).
    *
    * Scale shape: two tiny aggregates (per-source counts; one global
    * row broadcast by AQE), one source-partitioned window for ranks —
    * no unpartitioned window, no corpus self-join. */
  val t40MixRebalance: QuerySpec = QuerySpec.sql(
    "t40_mix_rebalance",
    """WITH t AS (SELECT doc_id, source FROM documents),
      |n AS (SELECT source, CAST(substr(source, 4) AS BIGINT) AS src_idx,
      |        COUNT(*) AS n_source
      |      FROM t GROUP BY 1, 2),
      |g AS (SELECT COUNT(*) AS total FROM t),
      |s AS (SELECT SUM(src_idx + 1) AS denom FROM n),
      |w AS (SELECT source, n_source,
      |        CAST((src_idx + 1) * total AS DOUBLE) / (denom * n_source)
      |          AS weight
      |      FROM n CROSS JOIN g CROSS JOIN s),
      |r AS (SELECT doc_id, t.source,
      |        ROW_NUMBER() OVER (PARTITION BY t.source
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM t)
      |SELECT r.doc_id, r.source, w.n_source, w.weight,
      |  (CAST(rk AS DOUBLE) / w.n_source <= w.weight) AS keep
      |FROM r JOIN w ON r.source = w.source
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d).select("doc_id", "source")
    val n = t.groupBy(col("source"),
        // to-end substring, like the oracle's substr(source, 4) — a
        // fixed length cap would silently truncate long source ids
        col("source").substr(lit(4), length(col("source")))
          .cast("long").as("src_idx"))
      .agg(count(lit(1)).as("n_source"))
    val g = t.agg(count(lit(1)).as("total"))
    val denom = n.agg(sum(col("src_idx") + 1).as("denom"))
    val w = n.crossJoin(g).crossJoin(denom)
      .select(col("source"), col("n_source"),
        (((col("src_idx") + 1) * col("total")).cast("double") /
          (col("denom") * col("n_source"))).as("weight"))
    val wdw = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    t.withColumn("rk", row_number().over(wdw))
      .join(w, "source")
      .select(col("doc_id"), col("source"), col("n_source"), col("weight"),
        (col("rk").cast("double") / col("n_source") <= col("weight"))
          .as("keep"))
      .orderBy("doc_id")
  }

  /** T41 — SEQUENCE PACKING (concat-and-chunk): the pretraining
    * pattern of concatenating documents into a token stream and
    * cutting fixed-size chunks. Documents are sharded by the id-hash
    * byte (8 shards — production packs per data-loader shard, which
    * is also what keeps the cumulative-sum window PARTITIONED instead
    * of the single-task global window this engine forbids); within a
    * shard the stream offset is a running token sum, and each doc
    * reports its start/end chunk at a 512-token chunk size plus how
    * many chunk boundaries it straddles. All-integer arithmetic —
    * parity is exact by construction. */
  val t41SequencePack: QuerySpec = QuerySpec.sql(
    "t41_sequence_pack",
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |m AS (SELECT doc_id, len(toks) AS n_toks,
       |        CAST(${idHashByteSql("doc_id")} % 8 AS INT) AS shard
       |      FROM t),
       |c AS (SELECT doc_id, shard, n_toks,
       |        SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM m)
       |SELECT doc_id, shard, CAST(n_toks AS BIGINT) AS n_toks,
       |  CAST(cum - n_toks AS BIGINT) AS strm_offset,
       |  CAST((cum - n_toks) // 512 AS BIGINT) AS start_chunk,
       |  CAST((cum - 1) // 512 AS BIGINT) AS end_chunk,
       |  CAST((cum - 1) // 512 - (cum - n_toks) // 512 AS BIGINT)
       |    AS chunks_crossed
       |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    val m = Tables.documents(s, d)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        (idHashByte(col("doc_id")) % 8).cast("int").as("shard"))
    val wdw = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    m.withColumn("cum", sum("n_toks").over(wdw))
      .select(col("doc_id"), col("shard"), col("n_toks"),
        (col("cum") - col("n_toks")).as("strm_offset"),
        expr("(cum - n_toks) div 512").as("start_chunk"),
        expr("(cum - 1) div 512").as("end_chunk"),
        (expr("(cum - 1) div 512") - expr("(cum - n_toks) div 512"))
          .as("chunks_crossed"))
      .orderBy("doc_id")
  }

  /** T41b — the LOADER CONTRACT for t41's packing: per document, the
    * token offsets WITHIN the doc where 512-token chunk boundaries
    * fall (`boundaries: array<bigint>`, empty when the doc sits inside
    * one chunk). This is the split list a sequence-packing data loader
    * actually consumes — boundary chunk k (start_chunk < k ≤
    * end_chunk) begins at global token k·512, i.e. local offset
    * k·512 − strm_offset. The cumsum stays PARTITIONED by shard (the
    * same window as t41 — no global sort, no single-partition
    * bottleneck); the boundary list is per-row arithmetic on top.
    * Guard: Spark's `sequence(a, b)` descends when b < a, so the
    * no-boundary case is screened to an empty array explicitly.
    * Gate convention: the boundary list is serialized with
    * array_join/array_to_string (the f15 flag-list convention) —
    * the driver's pandas checker cannot sort array cells. */
  val t41bPackBoundaries: QuerySpec = QuerySpec.sql(
    "t41b_pack_boundaries",
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |m AS (SELECT doc_id, len(toks) AS n_toks,
       |        CAST(${idHashByteSql("doc_id")} % 8 AS INT) AS shard
       |      FROM t),
       |c AS (SELECT doc_id, shard, n_toks,
       |        SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM m),
       |p AS (SELECT doc_id, shard, n_toks,
       |        CAST(cum - n_toks AS BIGINT) AS strm_offset,
       |        CAST((cum - n_toks) // 512 AS BIGINT) AS sc,
       |        CAST((cum - 1) // 512 AS BIGINT) AS ec
       |      FROM c)
       |SELECT doc_id, shard, CAST(n_toks AS BIGINT) AS n_toks,
       |  CAST(strm_offset AS BIGINT) AS strm_offset,
       |  COALESCE(array_to_string(list_transform(range(sc + 1, ec + 1),
       |                 k -> CAST(k * 512 - strm_offset AS BIGINT)), ','), '')
       |    AS boundaries
       |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
    val m = Tables.documents(s, d)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        (idHashByte(col("doc_id")) % 8).cast("int").as("shard"))
    val wdw = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    m.withColumn("cum", sum("n_toks").over(wdw))
      .withColumn("strm_offset", col("cum") - col("n_toks"))
      .withColumn("sc", expr("(cum - n_toks) div 512"))
      .withColumn("ec", expr("(cum - 1) div 512"))
      .select(col("doc_id"), col("shard"), col("n_toks"), col("strm_offset"),
        array_join(
          when(col("ec") > col("sc"),
            transform(sequence(col("sc") + 1, col("ec")),
              k => k * 512 - col("strm_offset")))
            .otherwise(array().cast("array<bigint>"))
            .cast("array<string>"), ",").as("boundaries"))
      .orderBy("doc_id")
  }

  /** T43 — EXACT DUPLICATED SPANS (the Lee et al. substring-dedup
    * metric): every sliding 20-token window whose exact text occurs
    * ≥ 2 times in the corpus — across documents OR repeated within
    * one (suffix-array dedup removes both classes) — is a duplicated
    * position; per document the positions merge into MAXIMAL runs
    * (interval union: abutting W-wide windows merge, a run breaks
    * only at a real coverage hole) and the row reports span count,
    * covered tokens and the duplicated fraction. Unlike t37 (fixed
    * block grid) this is sliding, so shifted boilerplate is caught.
    *
    * The interval union needs no UDF or iterative pass: for sorted
    * same-width intervals, position p covers least(next_p − p, W)
    * tokens (W for the last), and a run starts where the gap from the
    * previous position exceeds W−1 — two window functions per doc,
    * both PARTITIONED by doc_id. Scale shape: the only corpus-wide
    * shuffles are the span document-frequency groupBy (two-phase) and
    * the join-back; windows are per-doc. Spark's `sequence(a, b)`
    * DESCENDS when b < a, so short docs (< W tokens) are screened to
    * an empty position array rather than a poisoned one. */
  /** Sliding-window width shared by the t43 metric and the t43b
    * rewrite — ONE operating point, both engines. */
  private val DupSpanW = 20

  /** Shared t43/t43b DuckDB CTE chain `t → sh → dup → dp → runs`:
    * tokenized docs → sliding [[DupSpanW]]-windows → corpus-duplicated
    * windows → per-doc duplicated positions → disjoint coverage
    * intervals (`cov`) with run starts. One definition, so the metric
    * and the rewrite can never disagree on what a duplicated span is. */
  private val DupSpanCtesSql: String = {
    val W = DupSpanW
    s"""t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, i - 1 AS pos,
       |         array_to_string(toks[i : i + $W - 1], ' ') AS s
       |       FROM t, unnest(range(1, len(toks) - $W + 2)) AS u(i)),
       |dup AS (SELECT s FROM sh GROUP BY s
       |        HAVING COUNT(*) >= 2),
       |dp AS (SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (s)),
       |runs AS (SELECT doc_id, pos,
       |    LEAST(COALESCE(LEAD(pos) OVER w - pos, $W), $W) AS cov,
       |    CASE WHEN pos - COALESCE(LAG(pos) OVER w, -$W - 1) > $W
       |         THEN 1 ELSE 0 END AS run_start
       |  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos))""".stripMargin
  }

  /** Spark twin of [[DupSpanCtesSql]]: the checkpointed tokenized
    * frame (ONE tokenize pass feeds windows, counts, and — in t43b —
    * the token join-back) plus the per-doc duplicated-position runs
    * frame carrying `cov` and `run_start`. */
  private def dupSpanRuns(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val W = DupSpanW
    val t = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .localCheckpoint()
    val positions = when(size(col("toks")) >= W,
      sequence(lit(0), size(col("toks")) - W))
      .otherwise(array().cast("array<int>"))
    val sh = t.select(col("doc_id"),
      explode(transform(positions,
        i => struct(i.as("pos"),
          concat_ws(" ", slice(col("toks"), i + 1, lit(W))).as("s"))))
        .as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.s").as("s"))
    val dup = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("s")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val runs = sh.join(dup, "s").select(col("doc_id"), col("pos"))
      .withColumn("cov",
        least(coalesce(lead(col("pos"), 1).over(w) - col("pos"), lit(W)),
          lit(W)))
      .withColumn("run_start",
        when(col("pos") - coalesce(lag(col("pos"), 1).over(w), lit(-W - 1))
          > W, 1).otherwise(0))
    (t, runs)
  }

  val t43DupSpans: QuerySpec = {
    QuerySpec.sql(
      "t43_dup_spans",
      s"""WITH $DupSpanCtesSql,
         |n AS (SELECT doc_id, len(toks) AS n_toks FROM t),
         |agg AS (SELECT doc_id, SUM(run_start) AS n_dup_spans,
         |          SUM(cov) AS n_dup_tokens
         |        FROM runs GROUP BY doc_id)
         |SELECT n.doc_id AS doc_id, n.n_toks,
         |  CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
         |  CAST(COALESCE(a.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
         |  CAST(COALESCE(a.n_dup_tokens, 0) AS DOUBLE) / n.n_toks
         |    AS dup_frac
         |FROM n LEFT JOIN agg a ON n.doc_id = a.doc_id
         |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
      val (t, runs) = dupSpanRuns(s, d)
      val n = t.select(col("doc_id"), size(col("toks")).cast("long")
        .as("n_toks"))
      val agg = runs.groupBy("doc_id")
        .agg(sum("run_start").as("n_dup_spans"),
          sum("cov").as("n_dup_tokens"))
      n.join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("n_dup_spans"), lit(0L)).cast("long")
            .as("n_dup_spans"),
          coalesce(col("n_dup_tokens"), lit(0L)).cast("long")
            .as("n_dup_tokens"),
          (coalesce(col("n_dup_tokens"), lit(0L)).cast("double") /
            col("n_toks")).as("dup_frac"))
        .orderBy("doc_id")
    }
  }

  /** T43B — EXACT SUBSTRING-DEDUP REWRITE (the transform behind t43's
    * metric): every token position covered by a duplicated sliding
    * W-window (W = 20, the Lee et al. ExactSubstr threshold shape) is
    * REMOVED — from every occurrence, the strictest variant: repeated
    * boilerplate contributes zero tokens to training — and the
    * survivors reassemble in original order. The gate pins the exact
    * rewrite (md5 of the reassembled text, t73/t72b-style), not just
    * counts, so a one-token slip anywhere in the interval algebra
    * reds the row.
    *
    * The covered-position set needs no ×W blowup: t43's per-position
    * coverage `cov = least(next_pos − pos, W)` makes the intervals
    * [pos, pos+cov) DISJOINT with union exactly the covered set, so
    * exploding them materializes n_dup_tokens rows, not n_positions×W.
    * Scale shape is t43's (the span-df groupBy and the join-back are
    * the only corpus-wide shuffles) plus one per-doc left_anti join
    * and the order-stable `array_sort(collect_list(struct(pos, tok)))`
    * reassembly aggregate.
    *
    * No streaming door, deliberately: removing a span from its FIRST
    * occurrence requires knowing a future duplicate exists, so the
    * transform is retroactive by definition — at the door only a
    * second-sighting alert is expressible (StreamingLineDedup's
    * keep-first contract, which IS streamable, is the line-tier
    * analogue); the rewrite itself belongs to the periodic batch
    * sweep. */
  val t43bDupSpanRewrite: QuerySpec = {
    QuerySpec.sql(
      "t43b_dup_span_rewrite",
      s"""WITH $DupSpanCtesSql,
         |n AS (SELECT doc_id, len(toks) AS n_toks FROM t),
         |covered AS (SELECT doc_id, pos + i AS tokpos
         |            FROM runs, unnest(range(0, cov)) AS u(i)),
         |tok AS (SELECT doc_id, i - 1 AS tokpos, toks[i] AS tok
         |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         |kept AS (SELECT tok.doc_id, tok.tokpos, tok.tok
         |         FROM tok LEFT JOIN covered
         |           ON tok.doc_id = covered.doc_id
         |          AND tok.tokpos = covered.tokpos
         |         WHERE covered.tokpos IS NULL),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |          md5(string_agg(tok, ' ' ORDER BY tokpos)) AS clean_md5
         |        FROM kept GROUP BY doc_id)
         |SELECT n.doc_id AS doc_id, n.n_toks,
         |  COALESCE(a.n_kept, 0) AS n_kept,
         |  COALESCE(a.clean_md5, md5('')) AS clean_md5
         |FROM n LEFT JOIN agg a ON n.doc_id = a.doc_id
         |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
      val (t, runs) = dupSpanRuns(s, d)
      val n = t.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"))
      val covered = runs.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + col("cov") - 1))
          .as("tokpos"))
      val tok = t.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("tokpos", "tok")))
      val kept = tok.join(covered, Seq("doc_id", "tokpos"), "left_anti")
      val agg = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("tokpos"), col("tok")))),
            x => x.getField("tok")), " ")).as("clean_md5"))
      n.join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
        .orderBy("doc_id")
    }
  }

  /** Per-bit SimHash contribution aggregate (DuckDB side) — shared by
    * t3's fingerprint and t31's banded near-dup join so the bit
    * definition cannot drift between them. */
  private def simhashBitSql(b: Int): String = {
    val j = b / 4 + 1; val sh = 3 - b % 4
    s"SUM(CASE WHEN (((strpos('0123456789abcdef', substr(hh, $j, 1)) - 1) >> $sh) & 1) = 1 THEN 1 ELSE -1 END) AS s_$b"
  }

  /** T3 — 32-bit SimHash fingerprint (token-weighted, md5-nibble bits):
    * one shuffle (groupBy doc) over exploded tokens; signature is a
    * '0'/'1' string so it is engine-portable. */
  val t3Simhash: QuerySpec = {
    val aggSql = (0 until 32).map(simhashBitSql).mkString(",\n  ")
    val fpSql = (0 until 32).map(b =>
      s"CASE WHEN s_$b > 0 THEN '1' ELSE '0' END").mkString("concat(", ", ", ")")
    QuerySpec.sql(
      "t3_simhash",
      s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS hh FROM toks),
         |agg AS (SELECT doc_id,
         |  $aggSql
         |FROM h GROUP BY doc_id)
         |SELECT doc_id, $fpSql AS simhash
         |FROM agg
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val h = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .withColumn("hv", call_function("md5_prefix", col("tok"), lit(8)))
      // bit-field contributions (r21) — see simhashWideFptOf
      val aggs = (0 until 32).map(b =>
        sum(simhashContribBits(col("hv"), b, 32)).as(s"s_$b"))
      val fp = concat((0 until 32).map(b =>
        when(col(s"s_$b") > 0, "1").otherwise("0")): _*)
      h.groupBy("doc_id")
        .agg(aggs.head, aggs.tail: _*)
        .select(col("doc_id"), fp.as("simhash"))
        .orderBy("doc_id")
    }
  }

  /** T31 — SimHash NEAR-DUP via the banded hamming join (the classic
    * web-dedup design): the t3 fingerprint packed into a 32-bit long,
    * split into 4 byte-bands; candidates share ≥1 identical band
    * (pigeonhole: hamming ≤ 3 over 4 bands forces one equal band, so
    * recall at the threshold is EXACT, not probabilistic like
    * MinHash), verified by `bit_count(xor)` ≤ 3. A third independent
    * near-dup family beside t2 (MinHash/Jaccard) and t11 (cosine).
    *
    * SCALE CEILING (measured at ×100, recorded in COVERAGE): the
    * 8-bit bands give a bucket space of only 4×256, so buckets grow
    * linearly with corpus size and the within-bucket join goes
    * quadratic — 500k docs did not finish. [[t31bSimhashScale]] is
    * the operating point past ~10k docs (64-bit fingerprint, 16-bit
    * bands); this query remains the small-corpus/reference form. The
    * fingerprint table is checkpointed once and feeds both sides of
    * the self-join (the t2 signature-table move). */
  val t31SimhashNearDup: QuerySpec = {
    val aggSql = (0 until 32).map(simhashBitSql).mkString(",\n  ")
    val fpSql = (0 until 32).map(b =>
      s"(CASE WHEN s_$b > 0 THEN CAST(1 AS BIGINT) << ${31 - b} ELSE 0 END)")
      .mkString(" + ")
    QuerySpec.sql(
      "t31_simhash_neardup",
      s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS hh FROM toks),
         |agg AS (SELECT doc_id,
         |  $aggSql
         |FROM h GROUP BY doc_id),
         |fpt AS (SELECT doc_id, $fpSql AS fp FROM agg),
         |bands AS (SELECT doc_id, fp, b AS band,
         |    (fp >> CAST(8 * (3 - b) AS INT)) & 255 AS bkey
         |  FROM fpt, range(0, 4) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |    a.fp AS f1, b.fp AS f2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT d1, d2, CAST(bit_count(xor(f1, f2)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(f1, f2)) <= 3
         |ORDER BY d1, d2""".stripMargin) { (s, d) =>
      val fpL = (0 until 32)
        .map(b => when(col(s"s_$b") > 0, lit(1L << (31 - b))).otherwise(0L))
        .reduce(_ + _)
      // bit-field contributions (r21) — see simhashWideFptOf
      val aggs = (0 until 32).map(b =>
        sum(simhashContribBits(col("hv"), b, 32)).as(s"s_$b"))
      val fpt = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .withColumn("hv", call_function("md5_prefix", col("tok"), lit(8)))
        .groupBy("doc_id")
        .agg(aggs.head, aggs.tail: _*)
        .select(col("doc_id"), fpL.as("fp"))
        .localCheckpoint()
      val bands = fpt
        .select(col("doc_id"), col("fp"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bkey", expr("shiftright(fp, 8 * (3 - band)) & 255"))
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          col("a.fp").as("f1"), col("b.fp").as("f2"))
        .dropDuplicates("d1", "d2") // f1/f2 are functions of d1/d2
      cand
        .select(col("d1"), col("d2"),
          expr("bit_count(f1 ^ f2)").cast("int").as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy("d1", "d2")
    }
  }

  /** Document-frequency cap for the T4 inverted index: tokens appearing
    * in more than this many documents (per language) are dropped BEFORE
    * the self-join. Without it the index key set includes stopwords and
    * the "the" bucket makes the join quadratic in corpus size — the
    * standard inverted-index dedup hygiene is to cap df (high-df tokens
    * carry no near-dup signal anyway). */
  private[queries] val JaccardDfCap = 200

  /** T4 core, parameterized for specs: near-dup pairs by exact Jaccard
    * over the RARE-token set (df ≤ dfCap, applied symmetrically to the
    * intersection AND the per-doc counts, so the measure stays a true
    * Jaccard over the filtered universe). Input needs (doc_id, lang,
    * text). Directed-ordered output (d1 < d2). */
  private[graft] def ngramJaccardPairs(docs: org.apache.spark.sql.DataFrame,
      dfCap: Int, threshold: Double): org.apache.spark.sql.DataFrame = {
    // (doc, token) incidence is reused by the df screen and the join
    // sides — materialize once, under ONE exchange that serves every
    // keyed consumer (r21, the t64 move): per-doc dedup is row-local
    // (array_distinct), and hash(lang, tok) satisfies the residual
    // distinct (subset rule), the df groupBy(lang, tok), the dt⋈rare
    // join AND the inverted-index self-join on (tok, lang).
    val dt0 = docs
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .repartition(col("lang"), col("tok"))
      .distinct()
      .localCheckpoint()
    val rare = dt0.groupBy("lang", "tok").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("lang", "tok")
    val dt = dt0.join(rare, Seq("lang", "tok"))
    val nt = dt.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = dt.as("a")
      .join(dt.as("b"),
        col("a.tok") === col("b.tok") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"))
    val jac = col("i").cast("double") /
      (col("x.n") + col("y.n") - col("i"))
    inter
      .join(nt.as("x"), col("d1") === col("x.doc_id"))
      .join(nt.as("y"), col("d2") === col("y.doc_id"))
      .select(col("d1"), col("d2"), col("i").as("n_common"), jac.as("jaccard"))
      .filter(jac >= threshold)
      .orderBy("d1", "d2")
  }

  /** T4 — n-gram (token-set) Jaccard near-dup pairs within a language
    * partition: inverted-index self-join (token → docs) over tokens
    * with df ≤ [[JaccardDfCap]], exact |∩|/|∪| ≥ 0.9 on the filtered
    * universe. The df cap (not the `doc_id < 1000` screen) is what
    * keeps the join sub-quadratic at lake scale; the screen stays as
    * the demo-sized candidate pool (where T2's LSH pre-candidates
    * plug in on a real corpus). */
  val t4NgramJaccard: QuerySpec = QuerySpec.sql(
    "t4_ngram_jaccard",
    s"""WITH dt0 AS (
       |  SELECT DISTINCT doc_id, lang, unnest($ToksSql) AS tok
       |  FROM documents WHERE doc_id < 1000
       |), rare AS (
       |  SELECT lang, tok FROM dt0 GROUP BY lang, tok HAVING COUNT(*) <= $JaccardDfCap
       |), dt AS (
       |  SELECT dt0.doc_id, dt0.lang, dt0.tok FROM dt0 JOIN rare USING (lang, tok)
       |), nt AS (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
       |  FROM dt a JOIN dt b
       |    ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2, i AS n_common,
       |  CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
       |FROM inter JOIN nt x ON d1 = x.doc_id JOIN nt y ON d2 = y.doc_id
       |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.9
       |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    ngramJaccardPairs(
      Tables.documents(s, d).filter(col("doc_id") < 1000)
        .select("doc_id", "lang", "text"),
      JaccardDfCap, 0.9)
  }

  /** T4B — the two-stage MinHash-LSH near-dup operating point
    * (VERDICT r16 item 5, the t31→t31b / t38→t38b pattern): exact
    * SHINGLE-set Jaccard verification over LSH pre-candidates, with NO
    * demo-sized `doc_id < 1000` screen — the whole-corpus
    * RefinedWeb/DataComp-style pipeline. Stage 1 generates candidates
    * from t2's MinHash band index (ANY band collision — no ≥ K/2
    * signature screen: the EXACT verify replaces the signature
    * estimate); stage 2 verifies each candidate with the true measure
    * the MinHash approximates — Jaccard |A∩B|/|A∪B| ≥ 0.9 over the
    * full distinct 3-gram SHINGLE sets. Candidate space and measure
    * space are the SAME space: band recall at J = 0.9 is
    * 1 − (1 − 0.9²)⁸ ≈ 0.9999998 by the band construction (measured
    * 1.0 against the brute-force shingle truth at sf0.01 — COVERAGE
    * r17). For t4's TOKEN-set measure, the lossless production twin is
    * [[t4cJaccardPrefix]] — shingle-space candidates cannot serve a
    * token-space measure (docs sharing vocabulary but not phrase order
    * collide in neither band nor shingle space; measured at sf0.01,
    * shingle-band candidates reach 0.3 % of token-Jaccard pairs).
    *
    * Scale shape: candidate generation is the t2 band-bucket self-join
    * (fan-in bounded by bucket size — the classic LSH scale argument);
    * verification is two hash equi-joins on doc_id pulling each side's
    * shingle set plus a ROW-LOCAL array_intersect — candidate-count-
    * bounded, never corpus-quadratic. The Jaccard is one division of
    * exact integers (IEEE-exact both engines); n_common/n1/n2 emitted
    * as BIGINT (the type-parity discipline). */
  val t4bJaccardLsh: QuerySpec = QuerySpec.sql(
    "t4b_jaccard_lsh",
    s"""WITH ${nearDupBaseCtes("documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |),
       |ss AS (SELECT doc_id, list_distinct(s) AS ts FROM sh),
       |j AS (
       |  SELECT d1, d2,
       |    CAST(len(list_intersect(x.ts, y.ts)) AS BIGINT) AS i,
       |    CAST(len(x.ts) AS BIGINT) AS n1, CAST(len(y.ts) AS BIGINT) AS n2
       |  FROM cand JOIN ss x ON d1 = x.doc_id JOIN ss y ON d2 = y.doc_id
       |)
       |SELECT d1, d2, i AS n_common, n1, n2,
       |  CAST(i AS DOUBLE) / (n1 + n2 - i) AS jaccard
       |FROM j WHERE CAST(i AS DOUBLE) / (n1 + n2 - i) >= 0.9
       |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // verify sets deliberately NOT checkpointed (r21, measured): the
    // spread scan recompute is cheaper at sf0.1 than the eager
    // materialization job (1.03 vs 1.12 s A/B) — and at lake scale the
    // two sides read different column subsets off the same scan anyway
    exactJaccardVerify(lshCandidatesOf(docs),
      docs.select(col("doc_id"),
        array_distinct(shingles(tokens(col("text")), 3)).as("ts")))
  }

  /** Bucket membership above which [[lshCandidatesOf]] warns: a
    * 4096-deep bucket contributes C(4096,2) ≈ 8.4 M candidate pairs to
    * the verify stage ON ITS OWN — the quadratic-in-duplication-depth
    * regime where t32/t34's star/rep routing (or a t38b-style
    * retention cap) is the right tier, not the raw pair join. */
  private[graft] val LshHotBucketWarn = 4096L

  /** Band-bucket fan-in accounting over a (doc_id, band, bkey) index:
    * (max bucket membership, Σ C(m,2) candidate mass). One aggregate
    * pass over the ALREADY-CHECKPOINTED index — cheap next to the
    * self-join it accounts for, and the number that decides whether
    * that join is safe to run at all. */
  private[graft] def bucketFanIn(
      bands: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val row = bands.groupBy("band", "bkey").agg(count(lit(1)).as("m"))
      .agg(coalesce(max("m"), lit(0L)).as("max_m"),
        coalesce(sum(expr("m * (m - 1) div 2")), lit(0L)).as("cand_mass"))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  /** ANY-band-collision candidate pairs (d1 < d2) from the standing
    * band index — no ≥ K/2 signature screen: the callers' EXACT verify
    * stage replaces the estimate. ONE definition shared by t4b/t70b so
    * the candidate stage cannot drift between the Jaccard and
    * containment twins.
    *
    * Fan-in accounting (VERDICT r17 → ADVICE r19): the within-bucket
    * candidate mass is Σ C(m,2) — quadratic in duplication depth m,
    * the same parity-side property as t2. The accounting is NOT inline
    * here (an eager aggregate over the index, which gate construction
    * — plan-only inspection, the sf≤0.1 bench — should not pay):
    * [[bucketFanIn]] is the single accounting entry point, run as a
    * pre-flight by the decade paths that actually face hot corpora
    * ([[graft.tools.ScaleCheck]]'s twin sweep SKIPs above
    * [[LshHotBucketWarn]]). */
  private def lshCandidatesOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bands = bandIndexOf(docs).select("doc_id", "band", "bkey")
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Shared t4b/t4c verify stage: EXACT set Jaccard ≥ 0.9 over the
    * full distinct sets for a candidate pair frame (d1, d2) — the SET
    * SPACE is the caller's (t4b passes 3-gram shingle sets, t4c
    * distinct-token sets; the measure is Jaccard over whatever `ts`
    * holds). Two doc_id equi-joins plus row-local array arithmetic,
    * candidate-count-bounded, never corpus-quadratic. */
  private def exactJaccardVerify(
      cand: org.apache.spark.sql.DataFrame,
      sets: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val j = cand
      .join(sets.as("x"), col("d1") === col("x.doc_id"))
      .join(sets.as("y"), col("d2") === col("y.doc_id"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("x.ts"), col("y.ts"))).cast("long").as("i"),
        size(col("x.ts")).cast("long").as("n1"),
        size(col("y.ts")).cast("long").as("n2"))
    j.select(col("d1"), col("d2"), col("i").as("n_common"), col("n1"),
        col("n2"),
        (col("i").cast("double") / (col("n1") + col("n2") - col("i")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.9)
      .orderBy("d1", "d2")
  }

  /** T4C — PREFIX-FILTER exact-Jaccard join (the SSJoin / All-Pairs /
    * PPJoin family: Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07,
    * Xiao et al. WWW'08): the LOSSLESS production twin of t4/t4b.
    * t4b's LSH pre-candidates are recall-oriented but probabilistic;
    * prefix filtering is exact. Order every token set by ascending
    * global (df, tok) and index only each doc's first
    * |A| − ⌈θ·|A|⌉ + 1 tokens — its RAREST. Any pair with
    * Jaccard ≥ θ shares α = ⌈θ·max(|A|,|B|)⌉ tokens, and at most
    * α − 1 of a doc's tokens sit outside its prefix, so the prefixes
    * of a qualifying pair must collide (the prefix-filter lemma) —
    * which is why this gate's oracle is the BRUTE-FORCE ground truth
    * over the whole corpus: the driver row proves the sub-quadratic
    * plan drops nothing. The candidate join also carries the PPJoin
    * length filter (θ·max ≤ min ⇒ sizes within 10:9), pruning
    * cross-size collisions before verification.
    *
    * Scale shape: df ranking is one tok-keyed aggregate plus
    * doc-partitioned windows; the candidate self-join is keyed on
    * prefix tokens — each doc's rarest ~10% — so bucket fan-in is
    * governed by the df of RARE tokens, the exact inverse of the
    * hot-token problem (a boilerplate token never enters a prefix
    * unless a doc consists almost entirely of boilerplate);
    * verification is t4b's row-local exact stage. This is the
    * standard exact set-similarity join at lake scale; t4b's LSH
    * form trades residual recall risk for a cheaper candidate stage.
    *
    * Corpus caveat (measured, sf0.1): the synthetic vocabulary tops
    * out at 31 distinct tokens per doc, so even the "rarest" prefix
    * tokens carry corpus-scale df and the prefix filter degenerates —
    * 13,971 prefix rows → 3.69 M distinct candidates, ~30 % of all
    * C(5000,2) pairs — making this the bench's heaviest query
    * (~9 s warm-min; the verify stage's row-local intersects dominate,
    * not a shuffle). That is a property of the flat template corpus,
    * not the mechanism: prefix selectivity is the df of rare tokens,
    * and on a Zipf vocabulary (any real corpus) rare-token df is
    * O(1), collapsing candidates. Collapsing identical token sets
    * first (the t34 move) was measured and rejected: 5000 docs hold
    * 3,935 distinct sets — a 21 % collapse, not worth the expand
    * join. */
  val t4cJaccardPrefix: QuerySpec = QuerySpec.sql(
    "t4c_jaccard_prefix",
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |ts AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM t),
       |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM ts GROUP BY 1),
       |ix AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |         CAST(COUNT(*) AS BIGINT) AS i
       |       FROM ts a JOIN ts b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)
       |SELECT d1, d2, i AS n_common, x.n AS n1, y.n AS n2,
       |  CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
       |FROM ix JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
       |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.9
       |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    // checkpoint: ts feeds BOTH the df aggregate and the prefix join —
    // the two exchanges have different subtrees, so without it the
    // tokenize+explode+window scan runs twice (t70c's ss precedent)
    val ts = docs.select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("n", count(lit(1)).over(byDoc))
      .localCheckpoint()
    val dfreq = ts.groupBy("tok").agg(count(lit(1)).as("df"))
    // canonical global order = ascending (df, tok): rarest first,
    // total (tok unique within a doc) — any total order shared by all
    // docs preserves the lemma; rarest-first minimizes candidates
    val pref = ts.join(dfreq, "tok")
      .withColumn("pos",
        row_number().over(byDoc.orderBy("df", "tok")))
      .filter(col("pos") <= expr("n - (9*n + 9) div 10 + 1"))
      .select("doc_id", "tok", "n")
      // spread BEFORE the checkpoint: AQE coalesces the ~14k prefix
      // rows to one partition, but the self-join below explodes them
      // ~600× — without this the 8.8 M-pair stage runs single-task
      // (guide §2.5 "input skew"; explode-under-parallelism). Keyed on
      // doc_id (deterministic), sized by the scheduler's own
      // parallelism — scale-adaptive, not a local[32] constant.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .localCheckpoint()
    val candRaw = pref.as("a")
      .join(pref.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * 10 >=
            greatest(col("a.n"), col("b.n")) * 9)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    // Verify stage (r20, guide §1.2 "per-task work"): the degenerate
    // prefix selectivity on this corpus (scaladoc above) makes the
    // verify the wall — 3.69 M candidate pairs each paying a string
    // array_intersect (hash-set build + probe per pair, ~8 s warm).
    // When the GLOBAL vocabulary is small, the same |A∩B| is a popcount
    // over per-doc BITMASKS: tok → dense id (GlobalRank — no
    // single-partition window), doc → ⌈V/64⌉ packed words, and each
    // pair costs W AND+bit_count codegen ops instead of a hash set.
    // Integers i/n1/n2 are identical, so jaccard and the output hash
    // are bit-identical to the set form. V is corpus-derived (one
    // model-sized count job); above the cutover the mask row outgrows
    // the token sets themselves and the set path stays the right plan
    // — on a Zipf vocabulary prefix selectivity collapses candidates
    // long before V matters anyway.
    //
    // Dedup placement: verify-then-dedup was MEASURED SLOWER (9.6 s vs
    // 7.0 s — the duplicated 8.8 M verify rows cost more than the
    // distinct's partial-aggregate shuffle saves), so distinct-first
    // stays.
    val vocabSize = dfreq.count()
    val cand = candRaw.distinct()
    if (vocabSize <= 4096) {
      val w = ((vocabSize + 63) / 64).toInt.max(1)
      val vocabIds = graft.ops.GlobalRank
        .withGlobalRowNumber(dfreq.select("tok"), "tid", col("tok"))
      val masks = ts.join(vocabIds, "tok")
        .select(col("doc_id"), col("n"),
          expr("CAST((tid - 1) DIV 64 AS INT)").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST((tid - 1) % 64 AS INT))")
            .as("bit"))
        .groupBy("doc_id", "n", "w").agg(expr("bit_or(bit)").as("bits"))
        .groupBy("doc_id", "n")
        .agg(map_from_entries(collect_list(struct(col("w"), col("bits"))))
          .as("wm"))
        .select(col("doc_id"), col("n"),
          transform(sequence(lit(0), lit(w - 1)),
            i => coalesce(element_at(col("wm"), i), lit(0L))).as("mask"))
        .localCheckpoint() // doc-sized; feeds both join sides
      val mx = masks.select(col("doc_id").as("d1"), col("n").as("n1"),
        col("mask").as("m1"))
      val my = masks.select(col("doc_id").as("d2"), col("n").as("n2"),
        col("mask").as("m2"))
      // broadcast bound (r21, VERDICT r20 item 1): the masks frame is
      // CORPUS-sized (one row per doc) — vocab bounds the row WIDTH,
      // not the row count, so a small-vocab corpus at lake scale must
      // not force-broadcast it. Budget ~512 MB of mask payload
      // (w longs + key/count per row); above the bound the popcount
      // verify stays but the fetch joins shuffle (AQE plans them off
      // real stats). masks is checkpointed, so the count is free.
      val bcastMasks = masks.count() <= (512L << 20) / (w * 8L + 24L)
      def side(df: org.apache.spark.sql.DataFrame) =
        if (bcastMasks) broadcast(df) else df
      // codegen'd verify kernel (r21): Σ bit_count(m1[i] & m2[i]) as a
      // primitive loop — the former aggregate(zip_with(...)) HOF paid
      // an interpreted lambda + zipped-array alloc per candidate pair
      // (3.69 M pairs on this corpus). Identical integers, so jaccard
      // and the output hash are bit-identical.
      cand.join(side(mx), "d1").join(side(my), "d2")
        .select(col("d1"), col("d2"),
          expr("long_and_popcount(m1, m2)").as("n_common"),
          col("n1"), col("n2"))
        .withColumn("jaccard", col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")))
        .filter(col("jaccard") >= 0.9)
        .orderBy("d1", "d2")
    } else exactJaccardVerify(cand,
      docs.select(col("doc_id"), array_distinct(tokens(col("text"))).as("ts")))
  }

  /** T70 — NEAR-CONTAINMENT PAIRS: the DIRECTIONAL complement of t4's
    * symmetric Jaccard. A short document embedded in an aggregator
    * page (quote farms, mirrors-with-boilerplate, doc+comments) has
    * LOW Jaccard against its container — the union is dominated by
    * the container — but containment |A∩B|/|A| ≈ 1, so Jaccard-only
    * dedup systematically misses the subset direction and the model
    * trains on the contained text twice. Same inverted-index + df-cap
    * machinery as t4 over 3-gram shingle sets (shingles, not tokens:
    * containment needs phrase identity, not vocabulary overlap); each
    * undirected pair is evaluated in BOTH directions and emits
    * (contained, container) rows independently — an exact mutual pair
    * emits both. The df cap is the sub-quadratic guarantee, exactly
    * t4's scale argument; at lake scale t2's LSH pre-candidates feed
    * this the same way. */
  val t70Containment: QuerySpec = QuerySpec.sql(
    "t70_containment",
    s"""WITH t AS (
       |  SELECT doc_id, lang, $ToksSql AS toks
       |  FROM documents WHERE doc_id < 1000
       |), dt0 AS (
       |  SELECT DISTINCT doc_id, lang, unnest($ShinglesOverToks) AS sh FROM t
       |), rare AS (
       |  SELECT lang, sh FROM dt0 GROUP BY lang, sh HAVING COUNT(*) <= $JaccardDfCap
       |), dt AS (
       |  SELECT dt0.doc_id, dt0.lang, dt0.sh FROM dt0 JOIN rare USING (lang, sh)
       |), nt AS (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
       |  FROM dt a JOIN dt b ON a.sh = b.sh AND a.lang = b.lang
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), j AS (
       |  SELECT d1, d2, i, x.n AS n1, y.n AS n2
       |  FROM inter JOIN nt x ON d1 = x.doc_id JOIN nt y ON d2 = y.doc_id
       |), dirs AS (
       |  SELECT d1 AS contained, d2 AS container, i AS n_common,
       |    CAST(i AS DOUBLE) / n1 AS containment FROM j
       |  UNION ALL
       |  SELECT d2, d1, i, CAST(i AS DOUBLE) / n2 FROM j
       |)
       |SELECT contained, container, n_common, containment
       |FROM dirs WHERE containment >= 0.9
       |ORDER BY contained, container""".stripMargin) { (s, d) =>
    // one exchange serves the df screen, its join AND the inverted-
    // index self-join on (sh, lang) (r21, the t64/ngramJaccardPairs
    // move); per-doc dedup row-local
    val dt0 = Tables.documents(s, d).filter(col("doc_id") < 1000)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(shingles(tokens(col("text")), 3))).as("sh"))
      .repartition(col("lang"), col("sh"))
      .distinct()
      .localCheckpoint() // one shingle scan feeds the screen + both sides
    val rare = dt0.groupBy("lang", "sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= JaccardDfCap).select("lang", "sh")
    val dt = dt0.join(rare, Seq("lang", "sh"))
    val nt = dt.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val j = dt.as("a")
      .join(dt.as("b"),
        col("a.sh") === col("b.sh") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"))
      .join(nt.as("x"), col("d1") === col("x.doc_id"))
      .join(nt.as("y"), col("d2") === col("y.doc_id"))
      .select(col("d1"), col("d2"), col("i"),
        col("x.n").as("n1"), col("y.n").as("n2"))
    val dirs = j.select(col("d1").as("contained"), col("d2").as("container"),
        col("i").as("n_common"),
        (col("i").cast("double") / col("n1")).as("containment"))
      .unionAll(j.select(col("d2"), col("d1"), col("i"),
        (col("i").cast("double") / col("n2"))))
    dirs.filter(col("containment") >= 0.9)
      .orderBy("contained", "container")
  }

  /** T70B — the PRODUCTION twin of t70 (t4b's pattern, closing the
    * demo-screen class): whole-corpus directional near-containment
    * with LSH pre-candidates in place of the `doc_id < 1000` screen.
    * Candidates are t2's MinHash band collisions (the signatures
    * already live in 3-gram shingle space — exactly the phrase
    * identity containment needs); each candidate pair is verified
    * with the EXACT measure, |A∩B|/|A| over the full distinct-shingle
    * sets, row-locally, and emits (contained, container) rows in BOTH
    * directions at ≥ 0.9 (an exact mutual pair emits both — t70's
    * semantics over t70's measure, minus the df-capped universe: the
    * cap kept t70's inverted-index self-join sub-quadratic, a burden
    * the band index now carries).
    *
    * LSH recall caveat, stated not hidden: a SHORT doc swallowed by a
    * much larger container has Jaccard ≈ |A|/|B| even at containment
    * 1.0, so band collisions thin out as the size ratio grows — the
    * standard remedy at lake scale is banding PER LENGTH STRATUM of
    * the contained side (each stratum's signatures computed over the
    * container's windows of that length). The fixture's containment
    * pairs are same-scale near-mirrors, where band recall is the m13b
    * story; the verify stage is screen-agnostic either way.
    *
    * Scale shape: identical to t4b — band-bucket equi self-join for
    * candidates, two doc_id equi-joins for the shingle sets, row-local
    * array_intersect, one integer division per direction. */
  val t70bContainmentLsh: QuerySpec = QuerySpec.sql(
    "t70b_containment_lsh",
    s"""WITH ${nearDupBaseCtes("documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |),
       |ss AS (SELECT doc_id, list_distinct(s) AS ss FROM sh),
       |j AS (
       |  SELECT d1, d2,
       |    CAST(len(list_intersect(x.ss, y.ss)) AS BIGINT) AS i,
       |    CAST(len(x.ss) AS BIGINT) AS n1, CAST(len(y.ss) AS BIGINT) AS n2
       |  FROM cand JOIN ss x ON d1 = x.doc_id JOIN ss y ON d2 = y.doc_id
       |),
       |dirs AS (
       |  SELECT d1 AS contained, d2 AS container, i AS n_common,
       |    CAST(i AS DOUBLE) / n1 AS containment FROM j
       |  UNION ALL
       |  SELECT d2, d1, i, CAST(i AS DOUBLE) / n2 FROM j
       |)
       |SELECT contained, container, n_common, containment
       |FROM dirs WHERE containment >= 0.9
       |ORDER BY contained, container""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val cand = lshCandidatesOf(docs)
    // not checkpointed — the t4b measurement (see there)
    val ss = docs.select(col("doc_id"),
      array_distinct(shingles(tokens(col("text")), 3)).as("ss"))
    val j = cand
      .join(ss.as("x"), col("d1") === col("x.doc_id"))
      .join(ss.as("y"), col("d2") === col("y.doc_id"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("x.ss"), col("y.ss"))).cast("long").as("i"),
        size(col("x.ss")).cast("long").as("n1"),
        size(col("y.ss")).cast("long").as("n2"))
    val dirs = j.select(col("d1").as("contained"), col("d2").as("container"),
        col("i").as("n_common"),
        (col("i").cast("double") / col("n1")).as("containment"))
      .unionAll(j.select(col("d2"), col("d1"), col("i"),
        (col("i").cast("double") / col("n2"))))
    dirs.filter(col("containment") >= 0.9)
      .orderBy("contained", "container")
  }

  /** T70C — PREFIX-FILTER exact containment join: the LOSSLESS
    * production twin of t70/t70b, and the closure of t70b's documented
    * recall caveat. LSH band recall thins out as the contained/container
    * size ratio grows (Jaccard ≈ |A|/|B| even at containment 1.0);
    * prefix filtering is size-ratio-INDEPENDENT: with
    * |A∩B| ≥ ⌈θ·|A|⌉ common shingles and only ⌈θ·|A|⌉ − 1 of A's
    * shingles outside its (|A| − ⌈θ·|A|⌉ + 1)-prefix, at least one of
    * A's prefix shingles must appear SOMEWHERE in B — so the candidate
    * join keys A's rarest-by-df prefix against B's FULL shingle list
    * (the one-sided prefix lemma; trivial here: A has ≥ ⌈θ|A|⌉ common
    * elements, at most ⌈θ|A|⌉ − 1 fit in A's suffix). A short doc
    * swallowed by a 1000× container still collides via its own rarest
    * shingle. The oracle is brute-force ground truth over the whole
    * corpus, both directions — the driver row proves zero dropped
    * pairs. The candidate join carries the directional length filter
    * (i ≤ |B| and i ≥ ⌈θ|A|⌉ ⇒ 10·|B| ≥ 9·|A|).
    *
    * Scale shape: the container side is NOT prefix-limited, but join
    * fan-in per shingle is df_prefix(s) · df_all(s), and a shingle
    * enters a prefix only when it is among some doc's rarest ~10% —
    * boilerplate shingles (the hot keys) have df_prefix ≈ 0 unless a
    * doc is almost pure boilerplate; PPJoin's positional filter is the
    * published tightening if that tail ever dominates. Verification is
    * row-local over the candidate frame. */
  val t70cContainmentPrefix: QuerySpec = QuerySpec.sql(
    "t70c_containment_prefix",
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, $ShinglesOverToks AS s FROM t),
       |ss AS (SELECT DISTINCT doc_id, unnest(s) AS sg FROM sh),
       |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM ss GROUP BY 1),
       |ix AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |         CAST(COUNT(*) AS BIGINT) AS i
       |       FROM ss a JOIN ss b ON a.sg = b.sg AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |dirs AS (
       |  SELECT d1 AS contained, d2 AS container, i AS n_common,
       |    CAST(i AS DOUBLE) / x.n AS containment
       |  FROM ix JOIN sz x ON d1 = x.doc_id
       |  UNION ALL
       |  SELECT d2, d1, i, CAST(i AS DOUBLE) / y.n
       |  FROM ix JOIN sz y ON d2 = y.doc_id)
       |SELECT contained, container, n_common, containment
       |FROM dirs WHERE containment >= 0.9
       |ORDER BY contained, container""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val ss = docs.select(col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), 3))).as("sg"))
      .withColumn("n", count(lit(1)).over(byDoc))
      .localCheckpoint() // feeds df ranking, the prefix, AND the full side
    val dfreq = ss.groupBy("sg").agg(count(lit(1)).as("df"))
    val pref = ss.join(dfreq, "sg")
      .withColumn("pos", row_number().over(byDoc.orderBy("df", "sg")))
      .filter(col("pos") <= expr("n - (9*n + 9) div 10 + 1"))
      .select("doc_id", "sg", "n")
    val cand = pref.as("a")
      .join(ss.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.n") * 10 >= col("a.n") * 9)
      .select(col("a.doc_id").as("contained"), col("b.doc_id").as("container"))
      .distinct()
    // verify sets stay a fresh scan projection (r21, measured):
    // reassembling them from the checkpointed shingle rows via
    // collect_list was 0.4 s SLOWER at sf0.1 (the agg + row shuffle of
    // reassembly outweighs the spread scan's recompute)
    val sets = docs.select(col("doc_id"),
      array_distinct(shingles(tokens(col("text")), 3)).as("ss"))
    val v = cand
      .join(sets.as("x"), col("contained") === col("x.doc_id"))
      .join(sets.as("y"), col("container") === col("y.doc_id"))
      .select(col("contained"), col("container"),
        size(array_intersect(col("x.ss"), col("y.ss"))).cast("long")
          .as("n_common"),
        size(col("x.ss")).cast("long").as("n1"))
    v.select(col("contained"), col("container"), col("n_common"),
        (col("n_common").cast("double") / col("n1")).as("containment"))
      .filter(col("containment") >= 0.9)
      .orderBy("contained", "container")
  }

  /** T6 — language-ID heuristic: English function-word ratio over the
    * token stream (scan-local; no shuffle). */
  val t6LangId: QuerySpec = {
    val stopList = EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    QuerySpec.sql(
      "t6_langid",
      s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents)
         |SELECT doc_id, lang,
         |  len(list_filter(toks, x -> list_contains($stopList, x))) AS n_stop,
         |  len(toks) AS n_toks,
         |  CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE)
         |    / len(toks) AS stop_ratio,
         |  CASE WHEN CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE)
         |            / len(toks) >= 0.05
         |       THEN 'en' ELSE 'und' END AS predicted
         |FROM t
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokens(col("text"))
      val nStop = stopwordCount(toks)
      val ratio = nStop.cast("double") / size(toks)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          nStop.cast("long").as("n_stop"),
          size(toks).cast("long").as("n_toks"),
          ratio.as("stop_ratio"),
          when(ratio >= 0.05, "en").otherwise("und").as("predicted"))
        .orderBy("doc_id")
    }
  }

  /** T7 — document quality scoring: token count, mean token length,
    * stopword + punctuation ratios combined into a deterministic score. */
  val t7QualityScore: QuerySpec = {
    val stopList = EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    QuerySpec.sql(
      "t7_quality_score",
      s"""WITH t AS (
         |  SELECT doc_id, text, $ToksSql AS toks, $NormSql AS norm FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    len(toks) AS n_toks,
         |    CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks) AS avg_tok_len,
         |    CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE)
         |      / len(toks) AS stop_ratio,
         |    CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |      / length(text) AS punct_ratio
         |  FROM t
         |)
         |SELECT doc_id, n_toks, avg_tok_len, stop_ratio, punct_ratio,
         |  least(1.0, CAST(n_toks AS DOUBLE) / 100)
         |    * (CASE WHEN stop_ratio >= 0.01 AND stop_ratio <= 0.3 THEN 1.0 ELSE 0.5 END)
         |    * (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.5 END) AS quality
         |FROM m
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokens(col("text"))
      val norm = normText(col("text"))
      val base = Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).cast("long").as("n_toks"),
        (length(regexp_replace(norm, " ", "")).cast("double") / size(toks))
          .as("avg_tok_len"),
        (stopwordCount(toks).cast("double") / size(toks)).as("stop_ratio"),
        (length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("double") /
          length(col("text"))).as("punct_ratio"))
      base.select(col("doc_id"), col("n_toks"), col("avg_tok_len"),
        col("stop_ratio"), col("punct_ratio"),
        (least(lit(1.0), col("n_toks").cast("double") / 100) *
          when(col("stop_ratio") >= 0.01 && col("stop_ratio") <= 0.3, 1.0).otherwise(0.5) *
          when(col("punct_ratio") <= 0.2, 1.0).otherwise(0.5)).as("quality"))
        .orderBy("doc_id")
    }
  }

  /** T69 — PER-SOURCE QUANTILE QUALITY FILTER (the adaptive-threshold
    * curation cut): a fixed quality floor (t19's 0.5) passes a
    * different FRACTION of every source — a clean source keeps nearly
    * everything, a noisy one nearly nothing — where deployments
    * usually want "keep each source's best X%" so no source is
    * silently wiped or waved through. Rank every document within its
    * source by [[graft.functions.TextAnalysis.qualityOf]] (t7's exact
    * score — ONE definition, no drift) descending with doc_id
    * tie-break, keep percent_rank ≤ 0.8. All-rows output with the
    * `kept` flag (the manifest convention). Scale shape: one window
    * partitioned by source — sources are the natural parallel unit; a
    * skewed giant source is the t59 percentile machinery's problem
    * shape and takes the same remedy (pre-agg quantile cut) if a
    * single source outgrows a partition. */
  val t69QualityQuantile: QuerySpec = {
    val stopList = EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    QuerySpec.sql(
      "t69_quality_quantile",
      s"""WITH t AS (
         |  SELECT doc_id, source, text, $ToksSql AS toks FROM documents
         |), m AS (
         |  SELECT doc_id, source,
         |    least(1.0, CAST(len(toks) AS DOUBLE) / 100)
         |      * (CASE WHEN CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE)
         |                   / len(toks) >= 0.01
         |              AND CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE)
         |                   / len(toks) <= 0.3 THEN 1.0 ELSE 0.5 END)
         |      * (CASE WHEN CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |                   / length(text) <= 0.2 THEN 1.0 ELSE 0.5 END) AS quality
         |  FROM t
         |), r AS (
         |  SELECT doc_id, source, quality,
         |    PERCENT_RANK() OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS q_rank
         |  FROM m
         |)
         |SELECT doc_id, source, quality, q_rank, (q_rank <= 0.8) AS kept
         |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          qualityOf(col("text")).as("quality"))
        .withColumn("q_rank", percent_rank().over(w))
        .select(col("doc_id"), col("source"), col("quality"), col("q_rank"),
          (col("q_rank") <= 0.8).as("kept"))
        .orderBy("doc_id")
    }
  }

  /** T8 — token counting two ways: raw whitespace split vs a BPE-ish
    * regex segmentation (letters / digits / single symbols). */
  val t8TokenCount: QuerySpec = QuerySpec.sql(
    "t8_token_count",
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_ish_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")
          .as("bpe_ish_tokens"))
      .orderBy("doc_id")
  }

  /** T9 — document fingerprints: full-content hash + min-shingle hash
    * (winnowing-style representative; equals MinHash with k=1, seedless). */
  val t9Fingerprint: QuerySpec = QuerySpec.sql(
    "t9_fingerprint",
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks, $NormSql AS norm FROM documents),
       |sh AS (SELECT doc_id, norm, $ShinglesOverToks AS s FROM t)
       |SELECT doc_id, md5(norm) AS content_fp,
       |  list_aggregate(list_transform(s, x -> md5(x)), 'min') AS min_shingle_fp
       |FROM sh
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), normText(col("text")).as("norm"),
        shingles(tokens(col("text")), 3).as("s"))
      .select(col("doc_id"), md5(col("norm")).as("content_fp"),
        array_min(transform(col("s"), x => md5(x))).as("min_shingle_fp"))
      .orderBy("doc_id")
  }

  /** The exact decontamination computation, as DuckDB SQL — shared by
    * t12 (exact broadcast join) and t39 (bloom prescreen + exact
    * confirm): the two engines' plans differ, the answer may not. */
  private val DecontaminationOracleSql: String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |s0 AS (SELECT doc_id, unnest($ShinglesOverToks) AS shingle FROM t),
       |sh AS (SELECT DISTINCT doc_id, shingle FROM s0),
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
       |corpus AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
       |agg AS (
       |  SELECT c.doc_id, COUNT(*) AS n_shingles,
       |    COUNT(b.shingle) AS n_contaminated
       |  FROM corpus c LEFT JOIN bench b ON c.shingle = b.shingle
       |  GROUP BY 1)
       |SELECT doc_id, n_shingles, n_contaminated,
       |  CAST(n_contaminated AS DOUBLE) / n_shingles AS contamination,
       |  (CAST(n_contaminated AS DOUBLE) / n_shingles >= 0.2) AS flagged
       |FROM agg ORDER BY doc_id""".stripMargin

  /** T12 — train/test DECONTAMINATION: flag corpus documents whose
    * 3-gram shingles overlap a benchmark set beyond a threshold (the
    * GPT-3/Dolma n-gram overlap rule). The benchmark here is the
    * doc_id % 50 == 0 slice standing in for an eval suite.
    *
    * Scale shape — the part that matters at 100 TB: the benchmark side
    * is TINY (eval suites are megabytes), so its distinct shingle set
    * is built from its own pruned scan and BROADCAST; the corpus side
    * is one narrow scan-explode-aggregate pass with no self-join and
    * no corpus-sized shuffle besides the per-doc groupBy. Deliberately
    * two scans instead of caching one exploded frame: re-reading
    * pruned parquet is cheaper than materializing a corpus-sized
    * shingle set. */
  /** T12 core, parameterized for library use and specs: per-document
    * n-gram overlap against a (small) benchmark corpus. Inputs need
    * (doc_id, text); the benchmark side's distinct shingles broadcast. */
  private[graft] def decontaminate(docs: org.apache.spark.sql.DataFrame,
      benchDocs: org.apache.spark.sql.DataFrame, n: Int,
      threshold: Double): org.apache.spark.sql.DataFrame = {
    def distinctShingles(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), explode(shingles(tokens(col("text")), n)).as("shingle"))
      .distinct()
    // bench only needs the global shingle SET — one aggregation, not a
    // per-doc distinct followed by another
    val bench = benchDocs
      .select(explode(shingles(tokens(col("text")), n)).as("shingle"))
      .distinct()
    val agg = distinctShingles(docs)
      .join(broadcast(bench.withColumn("bhit", lit(1))), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("bhit")).as("n_contaminated"))
    val score = col("n_contaminated").cast("double") / col("n_shingles")
    agg.select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
      score.as("contamination"), (score >= threshold).as("flagged"))
      .orderBy("doc_id")
  }

  /** T13 core: intra-document n-gram duplication profile. */
  private[graft] def repetitionScore(docs: org.apache.spark.sql.DataFrame,
      n: Int, threshold: Double): org.apache.spark.sql.DataFrame = {
    val g = docs
      .select(col("doc_id"), explode(shingles(tokens(col("text")), n)).as("shingle"))
      .groupBy("doc_id", "shingle").agg(count(lit(1)).as("c"))
    val dupFrac = lit(1.0) - col("n_distinct").cast("double") / col("n_shingles")
    g.groupBy("doc_id")
      .agg(sum("c").as("n_shingles"), count(lit(1)).as("n_distinct"),
        max("c").as("top_repeat"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        dupFrac.as("dup_frac"), col("top_repeat"),
        (dupFrac >= threshold).as("flagged"))
      .orderBy("doc_id")
  }

  val t12Decontaminate: QuerySpec = QuerySpec.sql(
    "t12_decontaminate", DecontaminationOracleSql) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    decontaminate(docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0), 3, 0.2)
  }

  /** T39 — decontamination with a BLOOM-SKETCH prescreen: same answer
    * as t12 (the oracle IS t12's SQL), different scale regime. t12
    * broadcasts the benchmark's exact shingle set — right while the
    * eval suite is megabytes, impossible when the screen list reaches
    * billions of entries (all published benchmarks × paraphrases, or
    * an opt-out corpus). The bloom variant aggregates the set into a
    * FIXED-SIZE sketch on the executors (`bloom_filter_agg`, exposed
    * as `bloom_build` via GraftExtensions — Spark ships the expression
    * for its runtime row filtering but doesn't register it), ships it
    * as a scalar subquery, and prescreens corpus shingles with the
    * codegen'd `might_contain` before the exact-confirm join. False
    * positives are killed by the confirm join (which now probes only
    * prescreen survivors — at threshold FPR that's ~overlap-sized, so
    * it can shuffle-join against a disk-resident benchmark table);
    * false negatives are impossible. Sketch is sized ~8 bits/item
    * here; production sizing is items=|set|, bits≈items×10 for ~1%
    * FPR. */
  val t39BloomDecontaminate: QuerySpec = QuerySpec.sql(
    "t39_bloom_decontaminate", DecontaminationOracleSql) { (s, d) =>
    // NO checkpoint of this frame: it is corpus-sized, and
    // materializing it OOMed the ×100 ScaleCheck point — t12's rule
    // ("re-reading pruned parquet is cheaper than materializing a
    // corpus-sized shingle set") applies; each consumer re-derives
    // from the pruned scan
    val sh = Tables.documents(s, d).select("doc_id", "text")
      .select(col("doc_id"),
        explode(shingles(tokens(col("text")), 3)).as("shingle"))
      .distinct()
    // views are invocation-unique and dropped right after sql()'s eager
    // analysis resolves them — concurrent builders on one session must
    // not race on a shared view name, and nothing may leak
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val benchV = s"t39_bench_$tag"
    val corpusV = s"t39_corpus_$tag"
    sh.filter(col("doc_id") % 50 === 0).select("shingle").distinct()
      .createOrReplaceTempView(benchV)
    sh.filter(col("doc_id") % 50 =!= 0)
      .createOrReplaceTempView(corpusV)
    try s.sql(s"""
      WITH hits AS (
        SELECT c.doc_id, COUNT(b.shingle) AS n_contaminated
        FROM $corpusV c
        JOIN $benchV b ON c.shingle = b.shingle
        WHERE bloom_contains(
            (SELECT bloom_build(xxhash64(shingle), 100000, 800000)
             FROM $benchV),
            xxhash64(c.shingle))
        GROUP BY c.doc_id),
      tot AS (SELECT doc_id, COUNT(*) AS n_shingles
              FROM $corpusV GROUP BY doc_id)
      SELECT t.doc_id, t.n_shingles,
        COALESCE(h.n_contaminated, CAST(0 AS BIGINT)) AS n_contaminated,
        CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles
          AS contamination,
        (CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles
          >= 0.2) AS flagged
      FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
      ORDER BY t.doc_id""")
    finally {
      s.catalog.dropTempView(benchV)
      s.catalog.dropTempView(corpusV)
    }
  }

  /** T13 — intra-document REPETITION score (the Gopher boilerplate
    * rule): fraction of duplicated 3-gram shingles within each
    * document, plus the hottest shingle's count. Two-phase aggregate
    * — (doc, shingle) counts then per-doc rollup — so the map side
    * combines before any shuffle; entirely scan-local otherwise. */
  val t13Repetition: QuerySpec = QuerySpec.sql(
    "t13_repetition",
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |s0 AS (SELECT doc_id, unnest($ShinglesOverToks) AS shingle FROM t),
       |g AS (SELECT doc_id, shingle, COUNT(*) AS c FROM s0 GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(SUM(c) AS BIGINT) AS n_shingles,
       |  COUNT(*) AS n_distinct,
       |  1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS dup_frac,
       |  CAST(MAX(c) AS BIGINT) AS top_repeat,
       |  (1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) >= 0.3) AS flagged
       |FROM g GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    repetitionScore(Tables.documents(s, d).select("doc_id", "text"), 3, 0.3)
  }

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** T14 — PII REDACTION: scrub emails/phone numbers from document
    * text before training, keeping per-doc redaction counts for audit.
    * PII is SYNTHESIZED into the text from doc_id (the x-query trick)
    * so the oracle computes the expected redaction algebraically and
    * the patterns provably fire. Patterns stay within the regex subset
    * Java and RE2 interpret identically. Scan-local, zero shuffle —
    * at 100 TB this is a pure map stage. */
  val t14PiiRedact: QuerySpec = QuerySpec.sql(
    "t14_pii_redact",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    concat('Reach u', CAST(doc_id AS VARCHAR), '@mail',
       |           CAST(doc_id % 7 AS VARCHAR), '.com or 555-',
       |           lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',
       |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' re: ',
       |           substr($NormSql, 1, 40)) AS text2
       |  FROM documents
       |)
       |SELECT doc_id,
       |  len(regexp_extract_all(text2, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(text2, '$PhoneRe')) AS n_phones,
       |  regexp_replace(regexp_replace(text2, '$EmailRe', '<EMAIL>', 'g'),
       |                 '$PhoneRe', '<PHONE>', 'g') AS redacted
       |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
    val text2 = concat(lit("Reach u"), col("doc_id").cast("string"),
      lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".com or 555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" re: "),
      substring(normText(col("text")), 1, 40))
    Tables.documents(s, d)
      .select(col("doc_id"), text2.as("text2"))
      .select(col("doc_id"),
        regexp_count(col("text2"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text2"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("text2"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("redacted"))
      .orderBy("doc_id")
  }

  /** T15 — deterministic HASH SPLIT: assign every document to
    * train/val/test by a byte of its content-independent id hash —
    * stable across runs, machines and engines, no RNG, no global
    * shuffle (the property a 100 TB split must have: adding documents
    * never reassigns existing ones). ~80/10/10 via byte < 205/230. */
  val t15HashSplit: QuerySpec = QuerySpec.sql(
    "t15_hash_split",
    s"""WITH t AS (
      |  SELECT doc_id,
      |    ${idHashByteSql("doc_id")} AS b
      |  FROM documents
      |)
      |SELECT doc_id, b,
      |  CASE WHEN b < 205 THEN 'train' WHEN b < 230 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), idHashByte(col("doc_id")).as("b"),
        graft.functions.TextAnalysis.splitOf(col("doc_id")).as("split"))
      .orderBy("doc_id")
  }

  /** T17 — URL/DOMAIN FILTERING (the C4/Dolma source screen): each
    * document's source URL (synthesized from doc_id so the oracle is
    * algebraic) is screened first by a risky-TLD rule, then against a
    * domain BLOCKLIST derived from a table and broadcast — the shape a
    * real crawl filter has (blocklists are small; the corpus side
    * never shuffles for the check). */
  val t17UrlFilter: QuerySpec = QuerySpec.sql(
    "t17_url_filter",
    """WITH t AS (
      |  SELECT doc_id,
      |    concat('site', CAST(doc_id % 997 AS VARCHAR)) AS domain,
      |    CASE doc_id % 9 WHEN 0 THEN 'zip' WHEN 1 THEN 'xyz'
      |         WHEN 2 THEN 'org' ELSE 'com' END AS tld
      |  FROM documents
      |), bl AS (
      |  SELECT DISTINCT concat('site', CAST(doc_id % 997 AS VARCHAR)) AS bdom
      |  FROM documents WHERE doc_id % 150 = 0
      |), r AS (
      |  SELECT t.doc_id, t.domain, t.tld,
      |    concat('https://', t.domain, '.', t.tld, '/p/',
      |           CAST(t.doc_id AS VARCHAR)) AS url,
      |    CASE WHEN t.tld IN ('zip', 'xyz') THEN 'tld'
      |         WHEN b.bdom IS NOT NULL THEN 'domain' END AS reason
      |  FROM t LEFT JOIN bl b ON t.domain = b.bdom
      |)
      |SELECT doc_id, url, domain, tld, reason,
      |  (reason IS NOT NULL) AS blocked
      |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id")
    val domain = concat(lit("site"), (col("doc_id") % 997).cast("string"))
    val tld = when(col("doc_id") % 9 === 0, "zip")
      .when(col("doc_id") % 9 === 1, "xyz")
      .when(col("doc_id") % 9 === 2, "org").otherwise("com")
    val t = docs.select(col("doc_id"), domain.as("domain"), tld.as("tld"))
    val bl = docs.filter(col("doc_id") % 150 === 0)
      .select(domain.as("bdom")).distinct()
    val reason = when(col("tld").isin("zip", "xyz"), "tld")
      .when(col("bdom").isNotNull, "domain")
    t.join(broadcast(bl), col("domain") === col("bdom"), "left")
      .select(col("doc_id"),
        concat(lit("https://"), col("domain"), lit("."), col("tld"),
          lit("/p/"), col("doc_id").cast("string")).as("url"),
        col("domain"), col("tld"), reason.as("reason"),
        reason.isNotNull.as("blocked"))
      .orderBy("doc_id")
  }

  /** T19 — the composed CURATION VERDICT: the gate a corpus pass
    * actually ends with, combining the language (t6), quality (t7) and
    * repetition (t13) signals into keep/drop with the FIRST failing
    * rule as the drop reason (rule order: lang → quality →
    * repetition). The x8 idea applied to the curation side: one hash
    * gate over the composition, not just each signal.
    *
    * Scale: the scalar signals are scan-local; the repetition rollup
    * is the only shuffle and the verdict join is keyed by doc_id. */
  val t19CurationVerdict: QuerySpec = {
    val stopList = EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    QuerySpec.sql(
      "t19_curation_verdict",
      s"""WITH t AS (
         |  SELECT doc_id, text, $ToksSql AS toks, $NormSql AS norm FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE)
         |      / len(toks) AS stop_ratio,
         |    len(toks) AS n_toks,
         |    CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |      / length(text) AS punct_ratio
         |  FROM t
         |), q AS (
         |  SELECT doc_id,
         |    CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'und' END AS predicted,
         |    least(1.0, CAST(n_toks AS DOUBLE) / 100)
         |      * (CASE WHEN stop_ratio >= 0.01 AND stop_ratio <= 0.3 THEN 1.0 ELSE 0.5 END)
         |      * (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.5 END) AS quality
         |  FROM m
         |), s0 AS (SELECT doc_id, unnest($ShinglesOverToks) AS shingle FROM t),
         |g AS (SELECT doc_id, shingle, COUNT(*) AS c FROM s0 GROUP BY 1, 2),
         |rep AS (
         |  SELECT doc_id,
         |    1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS dup_frac
         |  FROM g GROUP BY doc_id
         |)
         |SELECT q.doc_id, predicted, quality, dup_frac,
         |  (predicted = 'en' AND quality >= 0.5 AND dup_frac < 0.3) AS keep,
         |  CASE WHEN predicted <> 'en' THEN 'lang'
         |       WHEN quality < 0.5 THEN 'quality'
         |       WHEN dup_frac >= 0.3 THEN 'repetition' END AS drop_reason
         |FROM q JOIN rep ON q.doc_id = rep.doc_id
         |ORDER BY q.doc_id""".stripMargin) { (s, d) =>
      import graft.functions.TextAnalysis.{curationDropReason, curationKeep, predictedLang, qualityOf}
      val q = Tables.documents(s, d).select(col("doc_id"),
        predictedLang(col("text")).as("predicted"),
        qualityOf(col("text")).as("quality"))
      val rep = repetitionScore(
        Tables.documents(s, d).select("doc_id", "text"), 3, 0.3)
        .select("doc_id", "dup_frac")
      q.join(rep, "doc_id")
        .select(col("doc_id"), col("predicted"), col("quality"), col("dup_frac"),
          curationKeep(col("predicted"), col("quality"), col("dup_frac"))
            .as("keep"),
          curationDropReason(col("predicted"), col("quality"), col("dup_frac"))
            .as("drop_reason"))
        .orderBy("doc_id")
    }
  }

  /** T30 — near-dup RECALL gate (the t20 idea for the dedup family):
    * ground truth = EXACT trigram-shingle Jaccard ≥ 0.5 over a bounded
    * id sample (recall is always audited on a sample at corpus scale —
    * exact all-pairs Jaccard is the quadratic thing LSH exists to
    * avoid), candidates = the SAME t2 banded-LSH pair set the
    * production dedup runs (per-doc band keys don't depend on the rest
    * of the corpus, so full-corpus LSH restricted to the sample equals
    * sample LSH). Each truth pair comes back with `found` — a recall
    * regression after retuning K/R/B flips rows and fails the hash
    * gate. The df≤100 rare-shingle screen bounds the inverted-index
    * self-join (the t4 scale guard; boilerplate shingles carry no
    * identity signal). Truth and candidates share their CTEs with
    * t2/t21 so the definitions cannot drift. */
  val t30LshRecall: QuerySpec = QuerySpec.sql(
    "t30_lsh_recall",
    s"""WITH $NearDupPairsCtesSql,
       |st AS (SELECT doc_id, $ToksSql AS toks FROM documents
       |       WHERE doc_id < 1000),
       |ssh AS (SELECT doc_id, $ShinglesOverToks AS s FROM st),
       |dsh AS (SELECT DISTINCT doc_id, unnest(s) AS sh FROM ssh),
       |rare AS (SELECT sh FROM dsh GROUP BY sh HAVING COUNT(*) <= 100),
       |dshr AS (SELECT dsh.doc_id, dsh.sh FROM dsh JOIN rare USING (sh)),
       |nsz AS (SELECT doc_id, COUNT(*) AS n FROM dshr GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
       |  FROM dshr a JOIN dshr b
       |    ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (SELECT d1, d2,
       |    CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
       |  FROM inter JOIN nsz x ON d1 = x.doc_id JOIN nsz y ON d2 = y.doc_id
       |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5)
       |SELECT t.d1, t.d2, t.jaccard, (p.d1 IS NOT NULL) AS found
       |FROM truth t LEFT JOIN pairs p ON t.d1 = p.d1 AND t.d2 = p.d2
       |ORDER BY t.d1, t.d2""".stripMargin) { (s, d) =>
    val dsh = Tables.documents(s, d).filter(col("doc_id") < 1000)
      .select(col("doc_id"),
        explode(shingles(tokens(col("text")), 3)).as("sh"))
      .distinct()
    val rare = dsh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 100).select("sh")
    val dshr = dsh.join(rare, "sh")
    val nsz = dshr.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = dshr.as("a")
      .join(dshr.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"))
    val truth = inter
      .join(nsz.select(col("doc_id").as("d1"), col("n").as("nx")), "d1")
      .join(nsz.select(col("doc_id").as("d2"), col("n").as("ny")), "d2")
      .select(col("d1"), col("d2"),
        (col("i").cast("double") / (col("nx") + col("ny") - col("i")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    val lsh = nearDupPairs(s, d).filter(col("d2") < 1000)
      .select(col("d1").as("pd1"), col("d2").as("pd2"))
    truth
      .join(lsh, col("d1") === col("pd1") && col("d2") === col("pd2"), "left")
      .select(col("d1"), col("d2"), col("jaccard"),
        col("pd1").isNotNull.as("found"))
      .orderBy("d1", "d2")
  }

  /** T22 — deterministic STRATIFIED sample: top-3 docs per
    * (lang, source) stratum ranked by id-hash — uniform-without-RNG
    * (same property family as T15), one partitioned window, no global
    * shuffle; at 100 TB each stratum ranks independently. */
  val t22StratifiedSample: QuerySpec = QuerySpec.sql(
    "t22_stratified_sample",
    """WITH h AS (SELECT doc_id, lang, source,
      |    md5(CAST(doc_id AS VARCHAR)) AS hkey FROM documents),
      |r AS (SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY lang, source ORDER BY hkey, doc_id) AS rnk FROM h)
      |SELECT lang, source, doc_id, rnk FROM r WHERE rnk <= 3
      |ORDER BY lang, source, rnk""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "source").orderBy("hkey", "doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("doc_id").cast("string")).as("hkey"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("lang"), col("source"), col("doc_id"), col("rnk"))
      .orderBy("lang", "source", "rnk")
  }

  /** T23 — per-document top-3 keywords by a BM25-style weight
    * `tf * (N - df + 0.5) / (df + 0.5)` — the SAME ranking as
    * tf·idf(log) (the idf ratio is a monotone transform) but built
    * from ratio arithmetic only: IEEE divisions are correctly rounded
    * in every engine, whereas `ln` is libm-dependent and would break
    * cell-exact parity (and the ratio stays positive past df = N/2,
    * where log-idf flips sign). df·10 ≤ 9N screens the universal
    * tokens AND bounds the join fan-out (the t4 scale-guard move) —
    * the threshold is high because weights, not the screen, do the
    * ranking. Shuffles: tf groupBy, df groupBy, token join, per-doc
    * window — all key-partitioned. */
  val t23KeywordTopk: QuerySpec = QuerySpec.sql(
    "t23_keyword_topk",
    s"""WITH t AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t
       |       WHERE tok <> '' GROUP BY 1, 2),
       |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM t
       |       WHERE tok <> '' GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM documents),
       |w AS (SELECT doc_id, tf.tok, tf.tf, df.df,
       |        tf.tf * (n.n - df.df + 0.5) / (df.df + 0.5) AS weight
       |      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
       |      WHERE df.df * 10 <= 9 * n.n),
       |r AS (SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY weight DESC, tok) AS rnk FROM w)
       |SELECT doc_id, tok AS keyword, tf, df, weight, rnk FROM r
       |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfq = toks.groupBy("tok").agg(countDistinct("doc_id").as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("weight").desc, col("tok"))
    tf.join(dfq, "tok").crossJoin(broadcast(n))
      .filter(col("df") * 10 <= col("n") * 9)
      // parenthesization mirrors the SQL's left-to-right (tf*a)/b
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        ((col("tf") * (col("n") - col("df") + 0.5)) / (col("df") + 0.5))
          .as("weight"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("tok").as("keyword"), col("tf"),
        col("df"), col("weight"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** T27 — corpus-wide top-50 trigrams (the "count all n-grams" job
    * behind boilerplate mining and contamination screens). Two-phase
    * count groupBy, then `orderBy().limit()` — which Spark plans as
    * TakeOrderedAndProject: per-partition partial top-k merged on the
    * driver, NOT a full global sort (plan-contract-pinned). Total
    * order (n desc, gram) makes the cut deterministic. */
  val t27TopNgrams: QuerySpec = QuerySpec.sql(
    "t27_top_ngrams",
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest($ShinglesOverToks) AS gram
       |       FROM t),
       |g AS (SELECT gram, COUNT(*) AS n FROM sh GROUP BY gram)
       |SELECT gram, n FROM g ORDER BY n DESC, gram LIMIT 50""".stripMargin) {
    (s, d) =>
      Tables.documents(s, d)
        .select(explode(shingles(tokens(col("text")), 3)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(50)
  }

  /** T28 — the end-to-end TRAINING-SET MANIFEST: one row per document
    * joining the quality verdict (t19), the near-dup cluster keeper
    * flag and the deterministic split (t15) into the final include
    * decision a curation pipeline materializes. The cluster side
    * composes the REP-COLLAPSED frame ([[repDedupReused]], t34's
    * production order: exact-collapse → near-dup over representatives →
    * map back) — the ×100 scale run killed the full-pair t21
    * composition this manifest originally used, while t34's feed stays
    * linear in distinct content. The ORACLE still nests t21's full-pair
    * SQL: t34's clusters provably equal t21's (exact dups share
    * identical shingle sets → same signatures/band keys;
    * RepDedupPipelineSpec pins the equivalence), so this gate row
    * green = the components agree AND the rep-collapsed composition
    * reproduces full-pair truth. */
  val t28CurationManifest: QuerySpec = QuerySpec.sql(
    "t28_curation_manifest",
    s"""SELECT q.doc_id, q.keep, q.drop_reason, c.cluster_id, c.is_keeper,
       |  s.split, (q.keep AND c.is_keeper) AS selected
       |FROM (${t19CurationVerdict.oracle}) q
       |JOIN (${t21DupClusters.oracle}) c ON q.doc_id = c.doc_id
       |JOIN (${t15HashSplit.oracle}) s ON q.doc_id = s.doc_id
       |ORDER BY q.doc_id""".stripMargin) { (s, d) =>
    t19CurationVerdict.run(s, d)
      .select(col("doc_id"), col("keep"), col("drop_reason"))
      .join(repDedupReused(s, d)
        .select(col("doc_id"), col("cluster_id"), col("is_keeper")), "doc_id")
      .join(t15HashSplit.run(s, d).select(col("doc_id"), col("split")), "doc_id")
      .select(col("doc_id"), col("keep"), col("drop_reason"),
        col("cluster_id"), col("is_keeper"), col("split"),
        (col("keep") && col("is_keeper")).as("selected"))
      .orderBy("doc_id")
  }

  /** T28b — the manifest's SCALE operating point: identical row shape
    * to t28, with the cluster side composed from the STAR frame (t32's
    * linear edge feed) instead of a full-pair build. Why both exist:
    * t34's exact-collapse neutralizes byte-identical mirror families
    * (the real-crawl common case), but a corpus whose dup families are
    * near- not exact-identical — the ×100 synthetic rev-tagged copies,
    * or a crawl after template perturbation — collapses nothing, and
    * any full-pair feed goes C(g,2). Star edges keep the CC feed
    * linear REGARDLESS of duplication structure (m−1 edges per
    * bucket), so this is the row whose ×100 run completes. Oracle
    * nests t32's star SQL — the gate pins the star composition
    * end-to-end; the keeper-flag cost of star-vs-full refinement is
    * exactly t33's measured number. */
  val t28bManifestStar: QuerySpec = QuerySpec.sql(
    "t28b_manifest_star",
    s"""SELECT q.doc_id, q.keep, q.drop_reason, c.cluster_id, c.is_keeper,
       |  s.split, (q.keep AND c.is_keeper) AS selected
       |FROM (${t19CurationVerdict.oracle}) q
       |JOIN (${t32StarClusters.oracle}) c ON q.doc_id = c.doc_id
       |JOIN (${t15HashSplit.oracle}) s ON q.doc_id = s.doc_id
       |ORDER BY q.doc_id""".stripMargin) { (s, d) =>
    t19CurationVerdict.run(s, d)
      .select(col("doc_id"), col("keep"), col("drop_reason"))
      .join(starClustersReused(s, d)
        .select(col("doc_id"), col("cluster_id"), col("is_keeper")), "doc_id")
      .join(t15HashSplit.run(s, d).select(col("doc_id"), col("split")), "doc_id")
      .select(col("doc_id"), col("keep"), col("drop_reason"),
        col("cluster_id"), col("is_keeper"), col("split"),
        (col("keep") && col("is_keeper")).as("selected"))
      .orderBy("doc_id")
  }

  /** T66 — PER-SOURCE CURATION REPORT: the rollup a curation run ends
    * with — for each source, how many documents it contributed, how
    * many survived selection, and WHERE the rest went (quality gate vs
    * dedup collapse), plus the train-split yield. This is the number a
    * data lead reads to decide which sources to renegotiate, re-crawl,
    * or drop; computed by rolling the t28b manifest (star-clustered,
    * the production composition) up by source. Composition reuses the
    * memoized component frames exactly as t28b does, so the report and
    * the manifest can never disagree; the oracle embeds t28b's oracle
    * as a subquery (the established x8 pattern). Scale: the manifest
    * is one row per doc; the rollup adds one broadcast-joinable
    * (doc_id → source) projection and a 20-group partial agg. */
  val t66SourceCuration: QuerySpec = QuerySpec.sql(
    "t66_source_curation",
    s"""SELECT d.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN m.selected THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_selected,
       |  CAST(SUM(CASE WHEN NOT m.keep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_quality_drop,
       |  CAST(SUM(CASE WHEN m.keep AND NOT m.is_keeper THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dup_drop,
       |  CAST(SUM(CASE WHEN m.selected AND m.split = 'train'
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_train_sel,
       |  CAST(SUM(CASE WHEN m.selected THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS sel_rate
       |FROM (SELECT q.doc_id, q.keep, c.is_keeper, s.split,
       |        (q.keep AND c.is_keeper) AS selected
       |      FROM (${t19CurationVerdict.oracle}) q
       |      JOIN (${t32StarClusters.oracle}) c ON q.doc_id = c.doc_id
       |      JOIN (${t15HashSplit.oracle}) s ON q.doc_id = s.doc_id) m
       |JOIN documents d ON m.doc_id = d.doc_id
       |GROUP BY 1
       |ORDER BY source""".stripMargin) { (s, d) =>
    val m = t19CurationVerdict.run(s, d)
      .select(col("doc_id"), col("keep"))
      .join(starClustersReused(s, d)
        .select(col("doc_id"), col("is_keeper")), "doc_id")
      .join(t15HashSplit.run(s, d).select(col("doc_id"), col("split")),
        "doc_id")
      .withColumn("selected", col("keep") && col("is_keeper"))
    m.join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_quality_drop"),
        sum(when(col("keep") && !col("is_keeper"), 1L).otherwise(0L))
          .as("n_dup_drop"),
        sum(when(col("selected") && col("split") === "train", 1L)
          .otherwise(0L)).as("n_train_sel"))
      .select(col("source"), col("n_docs"), col("n_selected"),
        col("n_quality_drop"), col("n_dup_drop"), col("n_train_sel"),
        (col("n_selected").cast("double") / col("n_docs")).as("sel_rate"))
      .orderBy("source")
  }

  /** T29 — per-source corpus profile (the health dashboard a curation
    * run publishes): doc counts, exact distinct languages, char
    * totals/mean, id range. One two-phase groupBy; the mean is the
    * only double (exact long sum ÷ count — correctly rounded, so
    * cell-exact cross-engine). */
  val t29CorpusProfile: QuerySpec = QuerySpec.sql(
    "t29_corpus_profile",
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT lang) AS n_langs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        sum("n_chars").as("total_chars"),
        (sum("n_chars").cast("double") / count(lit(1))).as("mean_chars"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("source")
  }

  /** T58 — CROSS-SOURCE OVERLAP MATRIX: shingle-level Jaccard between
    * every source pair — the corpus contamination/provenance audit
    * (which crawls re-scraped each other, which curated subsets leak
    * into the general dump) run before mixing decisions like t40's.
    * Dense S×S/2 output: every pair appears even at zero overlap.
    *
    * Scale shape: the per-source DISTINCT shingle reduction happens
    * BEFORE the pair join (map-side-combining groupBy), so the
    * inverted-index self-join carries one row per (source, shingle) —
    * a shingle shared by m of the S sources emits C(m,2) ≤ C(S,2)
    * pairs, bounded per shingle value by the SOURCE count, not the
    * corpus. The shingle-keyed shuffle is the honest cost of a
    * corpus-wide overlap audit; the pair aggregation collapses it to
    * ≤ C(S,2) rows immediately. */
  val t58SourceOverlap: QuerySpec = QuerySpec.sql(
    "t58_source_overlap",
    s"""WITH t AS (SELECT doc_id, source, $ToksSql AS toks FROM documents),
       |sh AS (SELECT DISTINCT source, s
       |  FROM (SELECT source, unnest($ShinglesOverToks) AS s FROM t)),
       |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM sh GROUP BY 1),
       |pair AS (SELECT a.source AS s1, b.source AS s2,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
       |  GROUP BY 1, 2),
       |srcs AS (SELECT DISTINCT source FROM t),
       |dense AS (SELECT a.source AS s1, b.source AS s2
       |  FROM srcs a JOIN srcs b ON a.source < b.source)
       |SELECT d.s1, d.s2, COALESCE(p.n_shared, 0) AS n_shared,
       |  ta.n AS n1, tb.n AS n2,
       |  CAST(COALESCE(p.n_shared, 0) AS DOUBLE)
       |    / (ta.n + tb.n - COALESCE(p.n_shared, 0)) AS jaccard
       |FROM dense d
       |LEFT JOIN pair p ON d.s1 = p.s1 AND d.s2 = p.s2
       |JOIN tot ta ON ta.source = d.s1
       |JOIN tot tb ON tb.source = d.s2
       |ORDER BY d.s1, d.s2""".stripMargin) { (s, d) =>
    val sh = Tables.documents(s, d)
      .select(col("source"),
        explode(shingles(tokens(col("text")), 3)).as("s"))
      .distinct()
      .localCheckpoint() // one shingle scan: totals + both join sides
    val tot = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val pair = sh.as("a")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("n_shared"))
    val srcs = sh.select("source").distinct()
    val dense = broadcast(srcs.as("x"))
      .join(broadcast(srcs.as("y")), col("x.source") < col("y.source"))
      .select(col("x.source").as("s1"), col("y.source").as("s2"))
    dense
      .join(pair, Seq("s1", "s2"), "left")
      .join(broadcast(tot.select(col("source").as("s1"), col("n").as("n1"))),
        "s1")
      .join(broadcast(tot.select(col("source").as("s2"), col("n").as("n2"))),
        "s2")
      .select(col("s1"), col("s2"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n1"), col("n2"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") /
          (col("n1") + col("n2") - coalesce(col("n_shared"), lit(0L))))
          .as("jaccard"))
      .orderBy("s1", "s2")
  }

  /** Winnowing window size (hashes per window). With shingle size 3,
    * any shared run of ≥ [[WinnowW]]+3−1 = 6 tokens is GUARANTEED to
    * share a selected fingerprint — the winnowing theorem. */
  private[queries] val WinnowW = 4

  /** T60 — WINNOWING FINGERPRINTS (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm): per document, hash every
    * 3-shingle, slide a [[WinnowW]]-hash window, select each window's
    * MINIMUM hash (rightmost position on ties), emit the distinct
    * (position, hash) set. Unlike t9's whole-document min-hash (one
    * value per doc — any edit changes it), winnowing is a LOCAL
    * fingerprint: shared fingerprints localize WHICH region two
    * documents share, with the density guarantee (≥1 selection per
    * window) that makes partial-overlap detection sound. The standard
    * front door for plagiarism/citation mining over a corpus; pairs
    * come from a t58-style inverted-index join on `h` downstream.
    *
    * Scale shape: entirely ROW-LOCAL — the window scan is a
    * `transform` over an in-row position sequence (no explode until
    * the final distinct), so the operator is scan-shaped with one
    * (doc_id, pos, h) dedup at the end. Short docs (fewer hashes than
    * the window) degrade to one whole-array window, so every non-empty
    * document fingerprints. Hashes are the portable md5 base
    * ([[SketchQueries.baseHash]]) — oracle-exact. */
  /** T64 — N-GRAM NOVELTY (the Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better" novelty view, made a
    * per-document score): for each document, the fraction of its
    * DISTINCT 3-gram shingles that no earlier document (smaller
    * doc_id — the corpus's arrival order) already contains. A crawl
    * pipeline orders and prices ingest by exactly this number: a doc
    * whose grams are all first-seen is new content; one whose grams
    * all appeared before is a remix even when no single near-dup pair
    * fires (t2/t3 catch COPIES; this catches recombination).
    *
    * Scale shape: one shingle explode + per-doc DISTINCT (shuffle on
    * (doc_id, gram)), a first-seen MIN per gram (map-side partial,
    * shuffle on gram — the a5 first-seen rule applied to the gram
    * table), a 1:1 join back on gram, and a per-doc count pair. All
    * linear in total shingle mass; no pair join exists anywhere, so
    * duplication depth never squares. Novelty is one integer
    * subtraction and one division (exact cross-engine parity). */
  val t64NgramNovelty: QuerySpec = QuerySpec.sql(
    "t64_ngram_novelty",
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, $ShinglesOverToks AS s FROM t),
       |ds AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh),
       |fs AS (SELECT g, MIN(doc_id) AS first_doc FROM ds GROUP BY 1),
       |ag AS (SELECT ds.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_grams,
       |    CAST(SUM(CASE WHEN fs.first_doc < ds.doc_id THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_seen
       |  FROM ds JOIN fs USING (g) GROUP BY 1)
       |SELECT doc_id, n_grams, n_seen,
       |  CAST(n_grams - n_seen AS DOUBLE) / n_grams AS novelty
       |FROM ag
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // one exchange serves three keyed ops (r21, guide §2.4 — the CC
    // discipline): the per-doc dedup is row-local (array_distinct),
    // and the residual cross-page distinct runs under an explicit
    // hash(g) repartition, which the subset rule satisfies for the
    // (doc_id, g) distinct AND co-partitions both the first-seen
    // groupBy(g) and the ds⋈fs join — the former hash(doc_id, g)
    // distinct exchange forced a second g-keyed shuffle of both.
    val ds = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), 3))).as("g"))
      .repartition(col("g"))
      .distinct()
      .localCheckpoint() // one shingle scan: first-seen MIN + join side
    val fs = ds.groupBy("g").agg(min("doc_id").as("first_doc"))
    ds.join(fs, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        ((col("n_grams") - col("n_seen")).cast("double") / col("n_grams"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** The winnowing fingerprint extraction as ORDER-BY-free SQL (CTE
    * chain + final SELECT), shared verbatim by t60's oracle (which
    * appends the presentation ORDER BY) and t61's (which wraps it as
    * a subquery) — the lloydCtesSqlAt composition pattern, so the two
    * oracles cannot drift and the subquery carries no wasted sort. */
  private def winnowFpSql: String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |    list_transform($ShinglesOverToks,
       |      s -> ${SketchQueries.baseHashSql("s")}) AS hs
       |  FROM t),
       |w AS (SELECT doc_id, hs,
       |    CASE WHEN len(hs) = 0 THEN 0
       |         ELSE greatest(len(hs) - $WinnowW + 1, 1) END AS nw
       |  FROM sh),
       |f AS (SELECT doc_id, unnest(list_transform(range(1, nw + 1), i ->
       |    struct_pack(
       |      pos := i + len(hs[i : i + $WinnowW - 1])
       |        - list_position(list_reverse(hs[i : i + $WinnowW - 1]),
       |                        list_min(hs[i : i + $WinnowW - 1])),
       |      h := list_min(hs[i : i + $WinnowW - 1])))) AS fp
       |  FROM w WHERE nw > 0)
       |SELECT DISTINCT doc_id, CAST(fp.pos AS BIGINT) AS pos,
       |  CAST(fp.h AS BIGINT) AS h
       |FROM f""".stripMargin

  // the winnow family's shared-scan memos (the buildDupClusters
  // discipline): a direct t60 run always rebuilds + records the
  // fingerprint frame (bench/scale numbers stay honest); the pair
  // queries (t61/t61b) compose on the recorded checkpoint, so across
  // the family the tokenize+shingle+hash scan is paid ONCE per
  // process, not once per query. Keys carry the documents.parquet
  // content fingerprint, so an in-process rewrite invalidates.
  private val winnowFpMemo =
    new Clustering.Memo[(org.apache.spark.sql.SparkSession, String)]
  private val winnowDocHashMemo =
    new Clustering.Memo[(org.apache.spark.sql.SparkSession, String)]

  /** Fresh winnowed-fingerprint build (the t60 body, ORDER-BY-free),
    * recorded for reuse and checkpointed — the frame is ~1/(W/2) of
    * the shingle mass, far smaller than the scan that produces it. */
  private def buildWinnowFp(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val hs = transform(shingles(tokens(col("text")), 3),
      x => SketchQueries.baseHash(x))
    // rightmost-min tie rule, CODEGEN form (r21, VERDICT r20 item 3):
    // the r20 single-pass HOF (zip_with (h, −idx) structs +
    // array_min(slice) per window) still ran through the lambda
    // interpreter with a slice allocation per window — the largest
    // non-structural cost in the text tier. `winnow_min_windows`
    // ([[graft.plans.WinnowMinWindows]]) fuses the whole per-doc window
    // scan into one primitive loop inside whole-stage codegen; pos/h
    // values are identical (lexicographic min of (h, −idx) ≡ ascending
    // scan with `h ≤ best` updates; empty-shingle docs yield an empty
    // array ≡ the former filter(nw > 0)), so t60/t61/t61b outputs are
    // bit-identical — WinnowExprSpec pins the equivalence.
    winnowFpMemo.record(docsPrefix(s, d), docsStamp(d),
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(call_function("winnow_min_windows", hs, lit(WinnowW)))
            .as("fp"))
        .select(col("doc_id"), col("fp.pos").as("pos"), col("fp.h").as("h"))
        .distinct()
        .localCheckpoint()) // one winnowing scan serves t60/t61/t61b
  }

  private def winnowFpReused(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    winnowFpMemo.reuse(docsPrefix(s, d), docsStamp(d))(buildWinnowFp(s, d))

  /** The (doc_id, h)-distinct projection both pair queries self-join
    * on, checkpointed once (first caller builds, the other reuses —
    * the pqCodebookMemo pattern; the build reads the checkpointed
    * pos-level frame, not the corpus). */
  private def winnowDocHash(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    winnowDocHashMemo.reuse(docsPrefix(s, d), docsStamp(d)) {
      winnowDocHashMemo.record(docsPrefix(s, d), docsStamp(d),
        winnowFpReused(s, d)
          .select("doc_id", "h").distinct()
          .localCheckpoint()) // one winnowing pass: df screen + both sides
    }

  val t60Winnowing: QuerySpec = QuerySpec.sql(
    "t60_winnowing",
    s"""$winnowFpSql
       |ORDER BY doc_id, pos, h""".stripMargin) { (s, d) =>
    buildWinnowFp(s, d).orderBy("doc_id", "pos", "h")
  }

  /** Winnowing-pair thresholds: hashes seen in more than [[WinnowDfCap]]
    * documents are boilerplate (every doc would pair with every other
    * through them — the t2 hot-bucket cap, fingerprint-flavored);
    * pairs need ≥ [[WinnowMinShared]] surviving shared hashes. */
  private[queries] val WinnowDfCap = 50
  private[queries] val WinnowMinShared = 3

  /** T61 — WINNOWING PAIR DETECTION (the MOSS match step): documents
    * sharing ≥ [[WinnowMinShared]] distinct winnowed fingerprint
    * hashes, after dropping hashes in more than [[WinnowDfCap]]
    * documents. Composes t60's fingerprint extraction (both oracles
    * compose [[winnowFpSql]] — the two rows cannot drift) with a t58-style
    * inverted-index self-join; this is how plagiarism detection
    * actually pairs documents — on the SELECTED hashes only, a
    * per-doc set ~1/(W/2) the shingle count, with the df cap bounding
    * any hash's pair emission at C(cap, 2).
    *
    * Saturation-by-design at scale factors (the t10 pattern): on the
    * synthetic corpus every document draws from ONE 31-word template
    * vocabulary, so at ×100 (500k docs) every fingerprint hash
    * exceeds the fixed df cap and the pair set is measured EMPTY
    * (×100: 0 rows, 37.6 s — the screen itself stays linear). That is
    * the cap doing its job against boilerplate, surfaced by a corpus
    * that is all boilerplate; a real deployment sets the cap from the
    * expected duplication-cluster size (or a df percentile), which
    * the gate-scale rows (30 pairs at sf0.001) pin the semantics
    * for. */
  val t61WinnowPairs: QuerySpec = QuerySpec.sql(
    "t61_winnow_pairs",
    s"""WITH fp AS (SELECT DISTINCT doc_id, h
       |  FROM ($winnowFpSql)),
       |dfc AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS nd FROM fp GROUP BY 1),
       |rare AS (SELECT fp.doc_id, fp.h
       |  FROM fp JOIN dfc USING (h) WHERE dfc.nd <= $WinnowDfCap),
       |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, n_shared FROM p
       |WHERE n_shared >= $WinnowMinShared
       |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    val fp = winnowDocHash(s, d)
    val dfc = fp.groupBy("h").agg(count(lit(1)).as("nd"))
    val rare = fp.join(dfc.filter(col("nd") <= WinnowDfCap), "h")
    rare.as("a")
      .join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy("d1", "d2")
  }

  /** t61b's boilerplate screen: the largest df cap whose TOTAL PAIR
    * EMISSION (Σ over kept hashes of C(df, 2)) stays within
    * [[WinnowPairBudget]] pairs per corpus document. Sizing: the
    * budget must cover fingerprints-per-duplicated-document × the
    * expected duplication depth, or true duplicate families fall
    * outside the cap — at the ×100 point (100-deep copy families,
    * ~2900 family fingerprints at df=100 carrying ~29 pairs/doc),
    * 20/doc lands the cap at df 84 and reports nothing, 30/doc lands
    * it at df 134 and reports the families. */
  private[queries] val WinnowPairBudget = 30

  /** T61b — WINNOWING PAIRS, PRODUCTION CAP (the t10b pattern applied
    * to t61): the fixed df cap is replaced by a PAIR-BUDGET cap — the
    * largest df such that the inverted-index join's total emission
    * Σ c(df)·C(df,2) over kept hashes stays ≤ [[WinnowPairBudget]]·N
    * pairs. This bounds the quantity that actually breaks at scale —
    * the join's OUTPUT mass — by construction, linear in corpus size,
    * whatever the df distribution looks like. Both fixed alternatives
    * fail on the all-boilerplate synthetic corpus at ×100: t61's fixed
    * df ≤ 50 saturates to an EMPTY pair set (every hash is hotter),
    * while a keep-99.5%-of-hashes percentile cap (this query's first
    * formulation) admits hashes hot enough that the pair join emitted
    * billions of rows and died after 34 minutes at 16 GB. The budget
    * cap adapts in BOTH directions: a clean corpus keeps essentially
    * every fingerprint; a boilerplate-heavy one clamps down to the
    * discriminative low-df tail — which is exactly the MOSS logic
    * (shared RARE fingerprints indicate copying; shared ubiquitous
    * ones indicate the template).
    *
    * The cap is EXACT and cross-engine-deterministic without a global
    * sort of the df frame: dfs are small integers, so the cut comes
    * from a HISTOGRAM — group dfs by value (distinct-df-many rows,
    * hundreds at any scale), cumulative-sum the per-df pair mass up
    * the tiny frame, take the largest df within budget. The corpus
    * count is read driver-side (a model-sized stat, like AQE's
    * runtime statistics); everything else stays declarative.
    *
    * Degeneracy pin (VERDICT r17 item 6): unlike t4c's prefix keys,
    * these bucket keys CANNOT degenerate on a flat-vocabulary corpus —
    * the budget cap measures the join's emission before running it, so
    * an all-boilerplate corpus clamps the screen instead of squaring
    * the join; ScaleGuardSpec pins exactly that worst case (40
    * identical docs: t61's fixed cap emits C(40,2), this gate emits
    * 0). */
  val t61bWinnowPairsProd: QuerySpec = QuerySpec.sql(
    "t61b_winnow_pairs_prod",
    s"""WITH fp AS (SELECT DISTINCT doc_id, h
       |  FROM ($winnowFpSql)),
       |dfc AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS nd FROM fp GROUP BY 1),
       |hist AS (SELECT nd, COUNT(*) AS c FROM dfc GROUP BY 1),
       |cum AS (SELECT nd,
       |        SUM(c * nd * (nd - 1) // 2) OVER (ORDER BY nd) AS cp,
       |        (SELECT $WinnowPairBudget * COUNT(*) FROM documents) AS budget
       |        FROM hist),
       |cap AS (SELECT COALESCE(MAX(nd), 1) AS cap FROM cum
       |        WHERE cp <= budget),
       |rare AS (SELECT fp.doc_id, fp.h
       |  FROM fp JOIN dfc USING (h), cap WHERE dfc.nd <= cap.cap),
       |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, n_shared FROM p
       |WHERE n_shared >= $WinnowMinShared
       |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    val fp = winnowDocHash(s, d)
    val dfc = fp.groupBy("h").agg(count(lit(1)).as("nd"))
      .localCheckpoint() // cap derivation + the rare screen share it
    val budget = WinnowPairBudget * Tables.documents(s, d).count()
    val cumW = org.apache.spark.sql.expressions.Window
      .orderBy("nd")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // single-partition window is fine HERE: the frame is the df
    // histogram (one row per distinct df value), not the hash set
    val cap = dfc.groupBy("nd").agg(count(lit(1)).as("c"))
      .withColumn("cp",
        sum(expr("c * nd * (nd - 1) div 2")).over(cumW))
      .filter(col("cp") <= budget)
      .agg(coalesce(max("nd"), lit(1L))).collect()(0).getLong(0)
    val rare = fp.join(dfc.filter(col("nd") <= cap), "h")
    rare.as("a")
      .join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy("d1", "d2")
  }

  val all: Seq[QuerySpec] = Seq(
    t1ExactDedup, t2MinhashLsh, t3Simhash, t4NgramJaccard, t4bJaccardLsh,
    t4cJaccardPrefix,
    t6LangId, t7QualityScore, t8TokenCount, t9Fingerprint,
    t69QualityQuantile, t70Containment, t70bContainmentLsh,
    t70cContainmentPrefix,
    t12Decontaminate, t13Repetition, t14PiiRedact, t15HashSplit,
    t17UrlFilter, t19CurationVerdict, t21DupClusters,
    t22StratifiedSample, t23KeywordTopk, t27TopNgrams,
    t28CurationManifest, t28bManifestStar, t29CorpusProfile, t30LshRecall,
    t31SimhashNearDup, t31bSimhashScale, t42SimhashRecall, t32StarClusters, t33StarParity, t34RepDedup,
    t37BlockBoilerplate, t38DeltaNearDup, t38bDeltaNearDupProd,
    t39BloomDecontaminate,
    t40MixRebalance, t41SequencePack, t41bPackBoundaries, t43DupSpans,
    t43bDupSpanRewrite,
    t58SourceOverlap, t60Winnowing, t61WinnowPairs, t61bWinnowPairsProd,
    t64NgramNovelty, t66SourceCuration)
}
