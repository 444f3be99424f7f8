package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the correctness baseline and a
  * sign-bit LSH-bucketed variant as the scale path.
  *
  * Float discipline: each COORDINATE is scaled once to a long
  * (`round(x·1e6)` with a branch-explicit half-away formula — every
  * step an IEEE-deterministic double op both engines compute
  * identically); dot products are then pure long multiply-adds, exact
  * and order-independent, so results are bit-identical across engines
  * with NO floating point on the pair-stage hot path. Scaling per
  * VECTOR (n·64 roundings) instead of per PAIR (pairs·64) is the big
  * win: the brute-force stage does only long arithmetic per candidate.
  * Bounds: |x|≲1 → coords ≤ ~1e6, products ≤ ~1e12, 64-term sums ≤
  * ~6.4e13 « 2^63.
  *
  * Scale shape: dot products and norms are computed PER ROW with
  * `zip_with`/`aggregate` higher-order functions — no element explode,
  * no 64×-row blow-up, no shuffle for the reductions. Norms ride along
  * in the projections, so there are zero auxiliary joins. Brute force
  * is a broadcast of the (small) query set against the corpus —
  * shuffle-free up to the final top-k window; the LSH variant turns
  * all-pairs into per-bucket joins (bucket key = 6 sign bits), the
  * standard way to keep ANN sub-quadratic on a cluster. */
object VectorQueries {

  /** Per-vector scaling: float coords → longs at 1e6 (rounding is the
    * shared [[graft.functions.ExactNum]] convention).
    * NULL vectors fail fast here — the single entry every vector path
    * scales through — instead of flowing a NULL eL into a codegen'd
    * dot or a mapPartitions argmin and NPEing without row context. */
  private[graft] def scaleL(e: Column): Column =
    when(e.isNotNull, transform(e,
      x => graft.functions.ExactNum.rnd(x.cast("double") * lit(1e6)).cast("long")))
      .otherwise(raise_error(lit(
        "null embedding: vector operators require non-null vectors " +
          "(filter or impute nulls upstream)")))

  /** Exact long dot product of two pre-scaled vectors, at 1e-12 —
    * codegen'd ([[graft.plans.LongArrayDot]]; the `aggregate(zip_with)`
    * form it replaced walked the lambda interpreter per pair, the
    * constant that dominated t57's ×100 brute blocks). */
  private[queries] def dotL(a: Column, b: Column): Column =
    call_function("long_dot", a, b).cast("double") / lit(1e12)

  private def normSqL(eL: Column): Column =
    call_function("long_dot", eL, eL).cast("double") / lit(1e12)

  /** A (vec_id, embedding) frame with the scaled vector and squared
    * norm per row — ONE derivation shared by the gates ([[embScaled]])
    * and the streaming doors (which fold new batches into a standing
    * corpus in exactly this shape). */
  private[graft] def embScaledOf(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
        scaleL(col("embedding")).as("eL"))
      .withColumn("ss", normSqL(col("eL")))

  /** Embeddings with the scaled vector and squared norm per row. */
  private def embScaled(s: SparkSession, d: String): DataFrame =
    embScaledOf(Tables.embeddings(s, d))

  /** SQL twin of scaleL — same shared rounding convention. */
  private[queries] def scaledSql(a: String): String =
    graft.functions.ExactNum.rndSql(s"(CAST($a AS DOUBLE) * 1e6)")

  private[queries] def prodLSql(a: String, b: String): String =
    s"(${scaledSql(a)} * ${scaledSql(b)})"

  private val NormsSql =
    s"""SELECT vec_id, CAST(SUM(${prodLSql("x", "x")}) AS DOUBLE) / 1e12 AS ss
       |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id""".stripMargin

  /** T5 — brute-force cosine top-5 for the first 10 query vectors. */
  val t5AnnBruteForce: QuerySpec = QuerySpec.sql(
    "t5_ann_brute_force",
    s"""WITH sq AS ($NormsSql),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
       |prods AS (
       |  SELECT qid, e.vec_id AS nid,
       |    ${prodLSql("qe[i+1]", "e.embedding[i+1]")} AS p
       |  FROM q, embeddings e, range(0, 64) t(i)
       |  WHERE e.vec_id <> qid
       |),
       |dots AS (SELECT qid, nid, CAST(SUM(p) AS DOUBLE) / 1e12 AS dot FROM prods GROUP BY 1, 2),
       |cos AS (
       |  SELECT qid, nid, dot / (sqrt(a.ss) * sqrt(b.ss)) AS cosine
       |  FROM dots JOIN sq a ON qid = a.vec_id JOIN sq b ON nid = b.vec_id
       |),
       |ranked AS (
       |  SELECT qid, nid, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
       |  FROM cos
       |)
       |SELECT qid, rank, nid, cosine FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val emb = embScaled(s, d)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("eL").as("qL"), col("ss").as("ss_a"))
    val cos = broadcast(q)
      .crossJoin(emb.select(col("vec_id").as("nid"), col("eL").as("nL"),
        col("ss").as("ss_b")))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dotL(col("qL"), col("nL")) / (sqrt(col("ss_a")) * sqrt(col("ss_b"))))
          .as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
    cos.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("qid", "rank", "nid", "cosine")
      .orderBy("qid", "rank")
  }

  // ---- T10: parameterized hyperplane LSH ----

  /** Oracle/bench configuration for t10. `LshBits` sets bucket count
    * (2^bits per table) — at lake scale bits grows with log2(corpus /
    * target bucket size), keeping per-bucket joins constant-size;
    * `LshTables` independent tables recover the recall a single coarse
    * table loses; `LshBucketCap` drops degenerate hot buckets (near-
    * duplicate pile-ups, zero vectors) so no single key can go
    * quadratic regardless of data skew. */
  private[graft] val LshBits = 6
  private[graft] val LshTables = 2
  private[graft] val LshBucketCap = 200

  /** Dimension index for bit `i` of table `t`: stride the 64 dims so
    * tables use disjoint hyperplane sets (axis hyperplanes — for
    * synthetic dense embeddings every axis sign is an independent
    * random bit, and the key stays exactly mirrorable in SQL). */
  private def lshDim(i: Int, t: Int, tables: Int): Int = (i * tables + t) % 64

  /** Per-vector LSH candidate pairs: explode each vector into one
    * (table, bucket-key) row per table, drop buckets over `bucketCap`,
    * self-join within (table, bucket), dedup multi-table hits to the
    * lexicographically-first bucket tag. Directed pairs (every qid sees
    * its neighbors). Needs an `embedding` column; `vec_id` is the key.
    *
    * Shuffle shape: the bucket-size screen and the self-join hash on
    * the SAME key (tbl, bkey), so the exchange is computed once and
    * reused; the cap bounds every join partition's fan-out at
    * cap·(cap−1) regardless of skew. */
  /** (vec_id, tbl, bkey) sign-bit key rows — ONE derivation shared by
    * the pair stage and the entry-routing probe so the bucket
    * definition cannot drift between them. */
  private def lshKeyed(emb: DataFrame, bits: Int, tables: Int): DataFrame = {
    val keyCols = (0 until tables).map { t =>
      concat((0 until bits).map { i =>
        when(element_at(col("embedding"), lshDim(i, t, tables) + 1) >= 0, "1")
          .otherwise("0")
      }: _*)
    }
    emb.select(col("vec_id"),
      posexplode(array(keyCols: _*)).as(Seq("tbl", "bkey")))
  }

  private[graft] def annLshPairs(emb: DataFrame, bits: Int, tables: Int,
      bucketCap: Int): DataFrame =
    annLshPairsRaw(emb, bits, tables, bucketCap)
      .groupBy("qid", "nid")
      .agg(min("bucket").as("bucket"))

  /** [[annLshPairs]] WITHOUT the (qid, nid) dedup aggregate — directed
    * pairs possibly repeated across tables, each tagged with its
    * bucket. The graph builders consume this form (r21, guide §2.4):
    * NN-Descent's round-0 `dedupByQid` dedups the seed under its own
    * qid repartition anyway, so the pair stage's (qid, nid) exchange +
    * min(bucket) aggregate was a second shuffle whose only effect the
    * next stage recomputed. t10's ANN gates keep [[annLshPairs]] — they
    * emit the bucket tag. */
  private[graft] def annLshPairsRaw(emb: DataFrame, bits: Int, tables: Int,
      bucketCap: Int): DataFrame = {
    val keyed = lshKeyed(emb, bits, tables)
    // the cap screen is a window count over the SAME (tbl, bkey)
    // partitioning the self-join needs — one exchange feeds both, no
    // separate count-aggregate + join-back
    val kept = keyed
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy("tbl", "bkey")))
      .filter(col("bn") <= bucketCap).drop("bn")
      .localCheckpoint() // materialized once, reused by both join sides
    kept.as("x")
      .join(kept.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("qid"), col("y.vec_id").as("nid"),
        concat(col("x.tbl").cast("string"), lit(":"), col("x.bkey")).as("bucket"))
  }

  /** Observability twin of [[annLshPairs]]: the buckets the cap WOULD
    * drop, with their sizes — a pipeline logs/alerts on this instead of
    * silently truncating coverage. */
  private[graft] def annLshOverflow(emb: DataFrame, bits: Int, tables: Int,
      bucketCap: Int): DataFrame = {
    val keyCols = (0 until tables).map { t =>
      concat((0 until bits).map { i =>
        when(element_at(col("embedding"), lshDim(i, t, tables) + 1) >= 0, "1")
          .otherwise("0")
      }: _*)
    }
    emb.select(posexplode(array(keyCols: _*)).as(Seq("tbl", "bkey")))
      .groupBy("tbl", "bkey").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > bucketCap)
  }

  /** ENTRY ROUTING for graph serve: each query's same-bucket corpus
    * mates off the standing LSH index — per (tbl, bkey), corpus
    * buckets over `bucketCap` are screened exactly as in
    * [[annLshPairs]]; per query, the first `maxEntries` mates by nid
    * are kept (deterministic). Queries whose every bucket is empty or
    * over-cap emit nothing — callers union a fixed-entry backstop.
    * This is the coarse-router half of a production graph-ANN serve
    * (DiskANN routes via its quantizer, HNSW via its upper layers):
    * a pure k-NN graph on a CLUSTERED corpus has no metric gradient
    * between clusters, so fixed-entry greedy walks cannot navigate to
    * the query's island — measured on the ×10 decade corpus: recall
    * 0.00 from fixed entries, 1.00 routed (COVERAGE r19). */
  private[graft] def annLshEntries(corpus: DataFrame, queries: DataFrame,
      bits: Int, tables: Int, bucketCap: Int, maxEntries: Int): DataFrame = {
    val ck = lshKeyed(corpus, bits, tables)
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy("tbl", "bkey")))
      .filter(col("bn") <= bucketCap).drop("bn")
    val qk = lshKeyed(queries, bits, tables)
      .select(col("vec_id").as("qid"), col("tbl"), col("bkey"))
    val mates = qk.join(ck, Seq("tbl", "bkey"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"))
      .distinct()
    val w = Window.partitionBy("qid").orderBy("nid")
    mates.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxEntries)
      .select("qid", "nid")
  }

  /** LSH-bucketed ANN at an arbitrary (bits, tables, cap) operating
    * point: hyperplane sign-bit tables, per-bucket self-join capped at
    * `cap` rows per bucket, exact long-arithmetic cosine on the
    * surviving candidates, top-3 per query vector. Candidate scoring
    * joins the (small) pair set back to the corpus by id — the
    * fetch-then-score shape every two-stage ANN retriever uses. */
  /** DuckDB sign-bit key for table `t` — ONE generator shared by the
    * t10 oracles and t82's seed CTEs so the bucket definition cannot
    * drift between the ANN gates and the k-NN-graph gate. */
  private def lshKeySql(bits: Int, tables: Int)(t: Int): String =
    (0 until bits).map { i =>
      s"CASE WHEN embedding[${lshDim(i, t, tables) + 1}] >= 0 THEN '1' ELSE '0' END"
    }.mkString("concat(", ", ", ")")

  /** The per-table key UNION — body of the `keys` CTE. `rel` is the
    * vector relation (t84 keys its base subset, everything else the
    * full table — same text when defaulted). */
  private def lshKeysSql(bits: Int, tables: Int,
      rel: String = "embeddings"): String =
    (0 until tables).map(t =>
      s"SELECT vec_id, $t AS tbl, ${lshKeySql(bits, tables)(t)} AS bkey FROM $rel")
      .mkString("\n  UNION ALL\n  ")

  private def annLshSpec(name: String, bits: Int, tables: Int,
      cap: Int): QuerySpec = {
    val keysSql = lshKeysSql(bits, tables)
    QuerySpec.sql(
      name,
      s"""WITH sq AS ($NormsSql),
         |keys AS (
         |  $keysSql
         |),
         |ok AS (SELECT tbl, bkey FROM keys GROUP BY tbl, bkey HAVING COUNT(*) <= $cap),
         |cand0 AS (
         |  SELECT x.vec_id AS qid, y.vec_id AS nid,
         |    concat(CAST(x.tbl AS VARCHAR), ':', x.bkey) AS bucket
         |  FROM keys x JOIN keys y ON x.tbl = y.tbl AND x.bkey = y.bkey
         |    AND x.vec_id <> y.vec_id
         |  JOIN ok o ON x.tbl = o.tbl AND x.bkey = o.bkey
         |),
         |cand AS (SELECT qid, nid, min(bucket) AS bucket FROM cand0 GROUP BY 1, 2),
         |prods AS (
         |  SELECT qid, nid, bucket,
         |    ${prodLSql("a.embedding[i+1]", "b.embedding[i+1]")} AS p
         |  FROM cand JOIN embeddings a ON qid = a.vec_id
         |    JOIN embeddings b ON nid = b.vec_id, range(0, 64) t(i)
         |),
         |dots AS (SELECT qid, nid, bucket, CAST(SUM(p) AS DOUBLE) / 1e12 AS dot
         |  FROM prods GROUP BY 1, 2, 3),
         |cos AS (
         |  SELECT qid, nid, bucket, dot / (sqrt(a.ss) * sqrt(b2.ss)) AS cosine
         |  FROM dots JOIN sq a ON qid = a.vec_id JOIN sq b2 ON nid = b2.vec_id
         |),
         |ranked AS (
         |  SELECT qid, nid, bucket, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM cos
         |)
         |SELECT qid, rank, nid, bucket, cosine FROM ranked WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = embScaled(s, d).localCheckpoint() // scan once: keys + both score fetches
      val cand = annLshPairs(e, bits, tables, cap)
      val cos = cand
        .join(e.select(col("vec_id").as("qid"), col("eL").as("qL"),
          col("ss").as("ss_a")), "qid")
        .join(e.select(col("vec_id").as("nid"), col("eL").as("nL"),
          col("ss").as("ss_b")), "nid")
        .select(col("qid"), col("nid"), col("bucket"),
          (dotL(col("qL"), col("nL")) / (sqrt(col("ss_a")) * sqrt(col("ss_b"))))
            .as("cosine"))
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
      cos.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("qid", "rank", "nid", "bucket", "cosine")
        .orderBy("qid", "rank")
    }
  }

  /** T10 — the oracle/bench operating point.
    *
    * SATURATION BY DESIGN: the bucket space at (bits=6, tables=4) is
    * 4×64 tags. The COVERAGE.md ×100 ScaleCheck row shows t10 emitting
    * 0 pairs at 150k vectors — EVERY bucket blows past the cap, the
    * overflow screen drops them all, and the query degrades to an empty
    * (correct, observable via [[annLshOverflow]]) result rather than a
    * quadratic self-join. That cliff is the point of keeping this row:
    * it pins the failure MODE (graceful saturation, not blow-up). The
    * scale operating point is [[t10bAnnLshScale]], whose wider keys keep
    * bucket occupancy bounded as the corpus grows. */
  val t10AnnLshBuckets: QuerySpec =
    annLshSpec("t10_ann_lsh_buckets", LshBits, LshTables, LshBucketCap)

  /** T10b — the SCALE operating point, hash-gated: at 100 TB the play
    * is raising `bits` with log2(corpus) and adding tables to recover
    * recall; this entry proves the parameterization derives identical
    * keys in both engines at bits=12 × tables=4 (48 distinct dims, one
    * per hyperplane), not just at the demo config. */
  val t10bAnnLshScale: QuerySpec =
    annLshSpec("t10b_ann_lsh_scale", 12, 4, LshBucketCap)

  // ---- T82: k-NN graph construction (NN-Descent, fixed rounds) ----

  /** Neighbors kept per node, and fixed refinement depth. K small and
    * rounds FIXED (the t81 lesson: a fixed-depth recurrence is
    * deterministic and unrolled-CTE-expressible; NN-Descent converges
    * in 4-6 rounds on real data, and each round at lake scale costs
    * one self-join of a k·N-row frame — rounds is the budget knob). */
  private[graft] val KnnK = 5
  private[graft] val KnnRounds = 2

  /** Row bound under which the corpus-vector FETCH side of a scoring
    * join is broadcast instead of shuffled. The candidate set of a
    * dense NN-Descent round is ~N·k·(2k+1) pairs; sort-merging the
    * vector fetch ships ~0.6 KB of scaled vector PER PAIR through the
    * exchange — measured at ×1000 (2 M vectors, dense seed): ~200 M
    * candidates spilled >220 GB and died ENOSPC. Broadcasting the
    * 2 M-row vector table (~1.2 GB — the DiskANN deployment model:
    * vectors resident on every serving node) leaves only 16-byte
    * (qid, nid) pairs in the shuffle. Above the bound (vectors no
    * longer node-resident) the joins fall back to shuffles — the
    * partition-the-corpus regime. */
  private[graft] val VecBroadcastMaxRows = 4000000L

  private def fetchSide(df: DataFrame, bcast: Boolean): DataFrame =
    if (bcast) broadcast(df) else df

  /** Exact cosine scoring + per-node top-k — the verify stage of every
    * round: two vec_id equi-joins pulling the pre-scaled vectors
    * ([[dotL]]'s codegen'd long arithmetic — t57's exact-long-dot
    * discipline), a qid-partitioned rank window. Candidate frame must
    * be distinct (qid, nid) rows. `bcast` broadcasts the vector
    * fetches (see [[VecBroadcastMaxRows]]). */
  private def knnScoreTopK(e: DataFrame, cand: DataFrame,
      k: Int, bcast: Boolean = false): DataFrame = {
    val scored = cand
      .join(fetchSide(e.select(col("vec_id").as("qid"), col("eL").as("qL"),
        col("ss").as("ss_a")), bcast), "qid")
      .join(fetchSide(e.select(col("vec_id").as("nid"), col("eL").as("nL"),
        col("ss").as("ss_b")), bcast), "nid")
      .select(col("qid"), col("nid"),
        (dotL(col("qL"), col("nL")) /
          (sqrt(col("ss_a")) * sqrt(col("ss_b")))).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** The NN-Descent recurrence (Dong, Moses & Li, WWW 2011) over an
    * arbitrary seed edge frame — factored off the LSH seed so the
    * fixed-point semantics are spec-testable on hand graphs: each
    * round, every node's candidates are its current neighbors plus its
    * neighbors-of-neighbors over the SYMMETRIZED graph (the paper's
    * local-join, direction-blind), re-scored EXACTLY and cut back to
    * top-[[KnnK]]. Each round's graph is localCheckpoint-ed (consumed
    * by two self-join sides next round) and the superseded round's
    * blocks released — O(1)-iteration footprint, the GraphQueries
    * discipline. The FINAL round's checkpoint is the returned frame
    * itself and must outlive the call (truncated lineage — the
    * caller's action reads those blocks); a long-lived session that is
    * done with the graph releases it via [[Clustering.release]]. */
  private[graft] def nnDescentFrom(e: DataFrame, seed: DataFrame,
      k: Int, rounds: Int, corpusRows: Option[Long] = None): DataFrame = {
    val nRows = corpusRows.getOrElse(e.count())
    val bcast = nRows <= VecBroadcastMaxRows
    // the symmetrized graph side carries ~2·k rows per corpus row —
    // gate ITS broadcast on the edge count, not the vector count
    // (ADVICE r20: near the vector bound the edge frame is ~2k× it)
    val bcastGraph = 2L * k * nRows <= VecBroadcastMaxRows
    // Exchange discipline (r20, guide §2.4): dedup the candidate set
    // under an EXPLICIT qid repartition — hash(qid) satisfies both the
    // (qid, nid) distinct aggregate (subset rule) and the downstream
    // top-k window, so each round pays ONE exchange instead of a
    // (qid, nid) dedup shuffle followed by a qid window shuffle.
    def dedupByQid(cand: DataFrame): DataFrame =
      cand.repartition(col("qid")).distinct()
    var g = knnScoreTopK(e, dedupByQid(seed.select("qid", "nid")), k, bcast)
      .select("qid", "nid", "cosine", "rank")
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val edges = g.select("qid", "nid")
      val sym = edges
        .union(edges.select(col("nid").as("qid"), col("qid").as("nid")))
      // under the broadcast regime the local-join's probe side rides
      // the same bound as the vector fetch (edges ≤ 2·k·corpusRows
      // narrow rows — the DiskANN model keeps the graph resident
      // alongside the vectors); above it both sides shuffle as before
      val nn = sym.as("a")
        .join(fetchSide(sym.as("b"), bcastGraph),
          col("a.nid") === col("b.qid") && col("a.qid") =!= col("b.nid"))
        .select(col("a.qid"), col("b.nid"))
      val cand = dedupByQid(nn.union(edges))
      val prev = g
      g = knnScoreTopK(e, cand, k, bcast)
        .select("qid", "nid", "cosine", "rank")
        .localCheckpoint()
      Clustering.release(prev)
    }
    g
  }

  /** 48-bit deterministic hash of (id, i) — the md5-prefix convention
    * [[graft.functions.TextAnalysis.idHashByte]] fixes, widened to 12
    * hex chars (< 2^48, exact in BIGINT both engines) so the modulus
    * stays uniform over corpus-scale N. */
  private def hash48(id: Column, i: Column): Column =
    call_function("md5_prefix",
      concat(id.cast("string"), lit(":"), i.cast("string")), lit(12))

  /** DuckDB twin of [[hash48]]. */
  private def hash48Sql(idRef: String, iRef: String): String =
    s"CAST(concat('0x', substr(md5(concat(CAST($idRef AS VARCHAR), " +
      s"':', CAST($iRef AS VARCHAR))), 1, 12)) AS BIGINT)"

  /** The NN-Descent SEED SUPPLEMENT (VERDICT r18 item 1 — the paper's
    * random initialization, made deterministic and gateable): nodes
    * the LSH seed left with NO outgoing pair ("starved" — isolated
    * keys, or members of over-cap buckets the screen dropped) each get
    * up to `k` pseudo-random partners, target = the corpus vector at
    * dense position hash48(vec_id, i) mod N. Self-hits and hash
    * collisions are dropped (a starved node may land < k fills — the
    * documented property; one NN-Descent round multiplies candidates
    * through the local join regardless). Without this, a corpus whose
    * perturbation scatters families across sign buckets builds a graph
    * covering only the seeded minority (t82b's measured ×1000 record:
    * ~12 % of 2 M nodes); with it, every node enters round 0.
    *
    * Scale shape: the dense position index is [[graft.ops.GlobalRank]]
    * (range-partitioned sort + partition-offset zip — NO
    * single-partition window); starved detection is one left-anti
    * join; the fill is an N·k-row equi-join against the position
    * index. All linear in N. */
  private[graft] def seedFill(e: DataFrame, seed: DataFrame,
      k: Int, corpusRows: Option[Long] = None): DataFrame = {
    val starved = e.select("vec_id")
      .join(seed.select("qid").distinct(),
        col("vec_id") === col("qid"), "left_anti")
    hashFillFor(e, starved, k, corpusRows.getOrElse(e.count()))
  }

  /** Up to `k` deterministic pseudo-random corpus partners for each
    * node in `nodes` (a `vec_id` column): target = the corpus vector
    * at dense position hash48(vec_id, i) mod n — the [[seedFill]]
    * fill arm, factored so [[graphConsolidate]] can draw the same
    * deterministic candidates for degraded nodes. Self-hits and hash
    * collisions drop (< k fills possible — documented). */
  private def hashFillFor(e: DataFrame, nodes: DataFrame, k: Int,
      n: Long): DataFrame = {
    val pos = graft.ops.GlobalRank
      .withGlobalRowNumber(e.select("vec_id"), "rk", col("vec_id"))
      .select(col("vec_id").as("nid"), (col("rk") - 1).as("pos"))
    val idx = e.sparkSession.range(k).select(col("id").as("i"))
    nodes.select("vec_id").crossJoin(broadcast(idx))
      .withColumn("tpos", hash48(col("vec_id"), col("i")) % lit(n))
      .join(pos, col("tpos") === col("pos"))
      .filter(col("nid") =!= col("vec_id"))
      .select(col("vec_id").as("qid"), col("nid"))
  }

  /** T82 — K-NN GRAPH CONSTRUCTION (LSH seed + NN-Descent refinement):
    * the standing primitive under SemDeDup/cluster/ANN-serve pipelines
    * at lake scale — build, once, a graph holding each vector's
    * [[KnnK]] nearest neighbors, sub-quadratically. Seed = t10's LSH
    * candidate stage ([[annLshPairs]] at the t10 operating point — the
    * shared definition, cap and all); refinement = [[KnnRounds]]
    * NN-Descent rounds (neighbors-of-neighbors candidate join + exact
    * long-dot rerank). The LSH seed finds same-bucket neighbors;
    * NN-Descent recovers cross-bucket ones through transitivity (a
    * neighbor's neighbor is likely a neighbor — the WWW'11 result),
    * which is exactly what the capped, saturating bucket stage loses.
    *
    * Gate discipline: rounds are FIXED, so the oracle is a t81-style
    * UNROLLED CTE chain — seed → score → top-k, then per round
    * symmetrize → local-join → rescore → top-k, every stage ANSI SQL
    * with the scoring text shared across rounds; ranks CAST to BIGINT
    * (type parity). Cosines are the t5 discipline: exact int64 dots,
    * one division, IEEE-identical on both engines.
    *
    * Scale shape: every stage is equi-keyed (bucket join, vec_id
    * fetches, qid windows) — no corpus product anywhere; per-round
    * candidate mass ≤ N·k·(2k+1) rows, linear in N with a k² constant;
    * the vector table is fetched by id (two narrow hash joins per
    * round). On a cluster both self-join sides hash on the same keys;
    * the checkpointed graph is k·N rows — the smallest frame in the
    * pipeline — so iteration state, as in t81, is the cheap part. */
  /** DuckDB exact-rerank chain over a (qid, nid) candidate relation:
    * `p$tag → d$tag → sc$tag → g$tag`, keeping each qid's top-`cut`
    * rows by (cosine DESC, nid). ONE text shared by the graph-build
    * rounds (cut = [[KnnK]]) and the serve beams (cut = [[ServeBeam]])
    * so the scoring arithmetic cannot drift between build and serve. */
  private def knnScoreCtesSql(candRel: String, tag: String,
      cut: Int): String =
    s"""p$tag AS (
       |  SELECT c.qid, c.nid,
       |    ${prodLSql("a.embedding[i+1]", "b.embedding[i+1]")} AS p
       |  FROM $candRel c JOIN embeddings a ON c.qid = a.vec_id
       |    JOIN embeddings b ON c.nid = b.vec_id, range(0, 64) t(i)),
       |d$tag AS (SELECT qid, nid, CAST(SUM(p) AS DOUBLE) / 1e12 AS dot
       |  FROM p$tag GROUP BY 1, 2),
       |sc$tag AS (SELECT qid, nid, dot / (sqrt(x.ss) * sqrt(y.ss)) AS cosine
       |  FROM d$tag JOIN sq x ON qid = x.vec_id JOIN sq y ON nid = y.vec_id),
       |g$tag AS (SELECT qid, nid, cosine, rnk FROM (
       |    SELECT qid, nid, cosine, ROW_NUMBER() OVER (
       |      PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
       |    FROM sc$tag)
       |  WHERE rnk <= $cut)""".stripMargin

  /** The WITH-body of the whole k-NN-graph build (norms, LSH keys,
    * capped seed, optional hash-random fill, score-0, [[KnnRounds]]
    * NN-Descent rounds), ending at relation `g$KnnRounds` — shared by
    * the t82 gates, t83's serve oracle, and t84's insert oracle (which
    * builds over `rel` = its base subset). `fill = true` splices the
    * [[seedFill]] CTEs (the NN-Descent random-init supplement) between
    * seed and score-0. */
  private def knnGraphCtesSql(bits: Int, tables: Int, cap: Int,
      rel: String = "embeddings", fill: Boolean = false): String = {
    val roundCtes = (1 to KnnRounds).map { r =>
      s"""sym$r AS (SELECT qid, nid FROM g${r - 1}
         |  UNION SELECT nid, qid FROM g${r - 1}),
         |cand$r AS (SELECT a.qid, b.nid FROM sym$r a JOIN sym$r b
         |    ON a.nid = b.qid AND a.qid <> b.nid
         |  UNION SELECT qid, nid FROM g${r - 1}),
         |${knnScoreCtesSql(s"cand$r", r.toString, KnnK)}""".stripMargin
    }.mkString(",\n")
    val fillCtes = if (!fill) "" else
      s"""pos AS (SELECT vec_id,
         |  ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS pos FROM $rel),
         |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM $rel),
         |starved AS (SELECT vec_id FROM $rel
         |  WHERE vec_id NOT IN (SELECT qid FROM seed)),
         |fill AS (
         |  SELECT s.vec_id AS qid, p.vec_id AS nid
         |  FROM starved s CROSS JOIN range(0, $KnnK) t(i) CROSS JOIN nv
         |  JOIN pos p ON p.pos = ${hash48Sql("s.vec_id", "t.i")} % nv.n
         |  WHERE p.vec_id <> s.vec_id),
         |seedf AS (SELECT qid, nid FROM seed
         |  UNION SELECT qid, nid FROM fill),
         |""".stripMargin
    val seedRel = if (fill) "seedf" else "seed"
    s"""sq AS ($NormsSql),
       |keys AS (
       |  ${lshKeysSql(bits, tables, rel)}
       |),
       |ok AS (SELECT tbl, bkey FROM keys GROUP BY tbl, bkey
       |  HAVING COUNT(*) <= $cap),
       |seed AS (
       |  SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid
       |  FROM keys x JOIN keys y ON x.tbl = y.tbl AND x.bkey = y.bkey
       |    AND x.vec_id <> y.vec_id
       |  JOIN ok o ON x.tbl = o.tbl AND x.bkey = o.bkey),
       |$fillCtes${knnScoreCtesSql(seedRel, "0", KnnK)},
       |$roundCtes""".stripMargin
  }

  // ---- standing-artifact memos (r20 — the dupClustersMemo/winnowFpMemo
  // pattern applied to the graph family). PRODUCTION SEMANTICS: the
  // k-NN graph is built ONCE at curation time and every serve/CRUD op
  // composes on the standing artifact (t83's scaladoc; DiskANN's whole
  // design) — before r20 each gate rebuilt it in-process, paying the
  // LSH seed + NN-Descent rounds five times per pass. Discipline is
  // buildDupClusters': the BUILDER gates (t82/t82b/t82c, whose output
  // IS the graph) always rebuild and re-record, so their bench numbers
  // stay honest; the composing gates (t83 serve, t85 routed serve,
  // t86 delete, t87 PQ serve, t88 consolidate) reuse the recorded
  // checkpoint exactly as t28/t33 reuse t21's clusters. Keys carry the
  // embeddings.parquet content fingerprint — an in-process rewrite
  // rebuilds, never serves stale; record releases superseded blocks.
  // t84 keeps a direct build: its base-SUBSET graph has no other
  // consumer, so a memo there would cache the gate's own work rather
  // than share a standing artifact.

  private val embMemo = new Clustering.Memo[(SparkSession, String)]
  private def embStamp(d: String) = Clustering.fingerprint(d, "embeddings")

  /** Memoized corpus row count off the checkpointed scan (r21) — every
    * graph/serve gate needs it for the broadcast-regime decision and
    * the seed fill's modulus, and each `e.count()` is its own Spark
    * job (~50 ms of scheduler latency per gate call). Fingerprint-
    * stamped like every memo; the count is corpus metadata, not a
    * query result. */
  private val embCountMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (String, java.lang.Long)]
  private def embCount(s: SparkSession, d: String): Long = {
    val k = (s, d)
    val st = embStamp(d)
    val cur = embCountMemo.get(k)
    if (cur != null && cur._1 == st) cur._2
    else {
      val n = embCheckpointed(s, d).count()
      embCountMemo.put(k, (st, java.lang.Long.valueOf(n)))
      n
    }
  }

  /** The checkpointed (vec_id, embedding, eL, ss) corpus every graph
    * gate fetches vectors from — scan+scale paid once per process per
    * corpus fingerprint (first caller builds, the winnowDocHash
    * discipline; the frame is corpus-resident by the same argument as
    * [[VecBroadcastMaxRows]]). */
  private def embCheckpointed(s: SparkSession, d: String): DataFrame =
    embMemo.reuse((s, d), embStamp(d)) {
      embMemo.record((s, d), embStamp(d), embScaled(s, d).localCheckpoint())
    }

  private val graphMemo = new Clustering.Memo[(SparkSession, String)]
  private def graphKey(d: String, bits: Int, tables: Int, cap: Int,
      fill: Boolean) = s"$d|$bits:$tables:$cap:$fill"

  /** One graph build (LSH seed [+ fill] + NN-Descent) over `e`.
    * Seed pairs come RAW ([[annLshPairsRaw]] — round 0's dedupByQid
    * dedups them under the qid repartition it pays anyway, so the
    * former (qid, nid) seed aggregate was a redundant exchange);
    * `corpusRows` pre-answers the count the fill modulus and the
    * broadcast regime need (one memoized job instead of two per
    * build). */
  private def buildKnnGraph(e: DataFrame, bits: Int, tables: Int,
      cap: Int, fill: Boolean, corpusRows: Option[Long] = None): DataFrame = {
    val n = Some(corpusRows.getOrElse(e.count()))
    val lsh0 = annLshPairsRaw(e, bits, tables, cap).select("qid", "nid")
    // when filling, the LSH pair stage feeds BOTH the starved
    // anti-join and the union arm — checkpointed so the band
    // self-join doesn't run twice in round 0's plan
    val lsh = if (fill) lsh0.localCheckpoint() else lsh0
    val seed = if (fill) lsh.union(seedFill(e, lsh, KnnK, n)) else lsh
    val g = nnDescentFrom(e, seed, KnnK, KnnRounds, n)
    if (fill) Clustering.release(lsh) // round 0 consumed it (eager)
    g
  }

  /** Fresh standing-graph build at a config, recorded for reuse —
    * the builder-gate entry (always rebuilds). */
  private def standingGraphRecord(s: SparkSession, d: String, bits: Int,
      tables: Int, cap: Int, fill: Boolean): DataFrame =
    graphMemo.record((s, graphKey(d, bits, tables, cap, fill)), embStamp(d),
      buildKnnGraph(embCheckpointed(s, d), bits, tables, cap, fill,
        Some(embCount(s, d))))

  /** The composing-gate entry: the recorded standing graph if this
    * process already built it at this config and fingerprint, else a
    * fresh recorded build. */
  private def standingGraphReused(s: SparkSession, d: String, bits: Int,
      tables: Int, cap: Int, fill: Boolean): DataFrame =
    graphMemo.reuse((s, graphKey(d, bits, tables, cap, fill)), embStamp(d))(
      standingGraphRecord(s, d, bits, tables, cap, fill))

  private def knnGraphSpec(name: String, bits: Int, tables: Int,
      cap: Int, fill: Boolean = false): QuerySpec =
    QuerySpec.sql(
      name,
      s"""WITH ${knnGraphCtesSql(bits, tables, cap, fill = fill)}
         |SELECT qid, CAST(rnk AS BIGINT) AS rank, nid, cosine
         |FROM g$KnnRounds
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      standingGraphRecord(s, d, bits, tables, cap, fill)
        .select("qid", "rank", "nid", "cosine")
        .orderBy("qid", "rank")
    }

  val t82KnnGraph: QuerySpec =
    knnGraphSpec("t82_knn_graph", LshBits, LshTables, LshBucketCap)

  /** T82b — the SCALE operating point (t10b's move applied to the
    * graph build): the t10-config seed saturates by design as the
    * corpus outgrows its 2×64 buckets (every bucket blows the cap and
    * the seed empties — t10's ×100 record), so the decade ladder runs
    * the SAME unrolled recurrence seeded at t10b's wider keys
    * (bits=12 × tables=4, bucket occupancy bounded as the corpus
    * grows). This is the config whose ×10/×100 points carry the
    * family's lake-scale evidence; t82 pins the shared-definition
    * seam with t10 at the gate config. */
  val t82bKnnGraphScale: QuerySpec =
    knnGraphSpec("t82b_knn_graph_scale", 12, 4, LshBucketCap)

  /** T82c — t82b's scale config PLUS the [[seedFill]] supplement (the
    * NN-Descent random init, deterministic): the DENSE-SEED operating
    * point. t82b's honest ×1000 record covered ~12 % of 2 M nodes —
    * the scale-up's perturbation scatters families across sign buckets
    * while the cap drops the still-deep ones, so a minority of nodes
    * carried seeds. Here every starved node enters round 0 with k
    * hash-random partners, so graph coverage is the corpus, not the
    * seeded minority, at every decade — the ×1000 coverage row this
    * config exists to carry. Same unrolled oracle (fill CTEs spliced
    * between seed and score-0). */
  val t82cKnnGraphFill: QuerySpec =
    knnGraphSpec("t82c_knn_graph_fill", 12, 4, LshBucketCap, fill = true)

  // ---- T83: graph-based ANN serve (beam search over the k-NN graph) ----

  /** Serve parameters: fixed entry points (the [[ServeEntries]]
    * smallest vec_ids — real deployments pin entry points the same
    * way), beam width, FIXED expansion depth (the t81/t82 lesson —
    * fixed rounds make greedy search unrolled-CTE-gateable), and the
    * published top-k. The beam is the quality dial (HNSW's efSearch):
    * recall@5 vs the t5 brute truth at sf0.001, MEASURED on the gate's
    * graph — beam 16/4 rounds: 0.58, 24/4: 0.66, 32/5: 0.80,
    * 48/6: 0.90 (random synthetic embeddings are the known hard case
    * for graph navigation — no cluster structure to exploit; per-query
    * cost stays O(rounds·beam·k) whatever the corpus size, which is
    * the entire point of serving from the graph). Gate point: 32/5. */
  private[graft] val ServeEntries = 4
  private[graft] val ServeBeam = 32
  private[graft] val ServeRounds = 5
  private[graft] val ServeK = 5

  /** The beam-search recurrence over an arbitrary (qid → nid) graph —
    * the serve half of the DiskANN/HNSW pattern, factored off the t82
    * build so hand-graph specs can pin the walk semantics: per round,
    * each query's beam expands to its nodes' graph-neighbors over the
    * SYMMETRIZED edges (∪ the beam itself — monotone: a kept node is
    * never lost to a worse frontier), every candidate is EXACT-scored
    * against the query vector, and the top-[[ServeBeam]] survive; the
    * query node itself is excluded throughout. Each round's beam is
    * checkpointed and the superseded round released (the GraphQueries
    * discipline). Returns each query's top-`k` of the final beam with
    * (rank, cosine). */
  private[queries] def knnServeFrom(e: DataFrame, edges: DataFrame,
      queryIds: DataFrame, entries: DataFrame,
      beam: Int, rounds: Int, k: Int,
      corpusRows: Option[Long] = None): DataFrame =
    knnServeVecs(e, edges,
      e.join(queryIds, e("vec_id") === queryIds("qid"))
        .select(col("qid"), col("eL").as("qL"), col("ss").as("qss")),
      entries, beam, rounds, k, corpusRows = corpusRows)

  /** [[knnServeFrom]] with the query VECTORS supplied directly as a
    * (qid, qL, qss) frame instead of looked up from the corpus — the
    * entry the serve door ([[graft.streaming.KnnServeStream]]) and
    * t84's insert walk use: their queries are NOT corpus members.
    * `materialize = true` checkpoints the result and releases the walk
    * state (final beam + query frame) before returning — the footprint
    * a long-running caller (streaming door, insert loop) needs; the
    * default lazy form leaves them persisted because the returned plan
    * reads them. `routed` adds per-query (qid, nid) entry pairs (the
    * [[annLshEntries]] router) to the round-0 beam alongside the fixed
    * entries — navigability on clustered corpora, see t85.
    * `corpusRows` pre-answers the broadcast-regime decision (row count
    * of `e` vs [[VecBroadcastMaxRows]]) so long-running callers — the
    * streaming doors, which hold an invariant corpus — don't pay one
    * corpus count job per micro-batch (ADVICE r19). */
  private[graft] def knnServeVecs(e: DataFrame, edges: DataFrame,
      qvecs: DataFrame, entries: DataFrame,
      beam: Int, rounds: Int, k: Int,
      materialize: Boolean = false,
      routed: Option[DataFrame] = None,
      corpusRows: Option[Long] = None): DataFrame = {
    val sym = edges.select(col("qid").as("src"), col("nid").as("dst"))
      .union(edges.select(col("nid").as("src"), col("qid").as("dst")))
      .localCheckpoint() // consumed once per round
    val q = qvecs.select(col("qid"), col("qL"), col("qss"))
      .localCheckpoint() // query-set-sized: the broadcast side of scoring
    val nRows = corpusRows.getOrElse(e.count())
    val bcast = nRows <= VecBroadcastMaxRows
    // the graph side is ~2·KnnK rows per corpus row — its broadcast
    // gates on the EDGE count (ADVICE r20), not the vector count
    val bcastGraph = 2L * KnnK * nRows <= VecBroadcastMaxRows
    // one exchange per round (r20, guide §2.4): hash(qid) satisfies the
    // (qid, nid) distinct AND the beam window — see nnDescentFrom
    def dedupByQid(cand: DataFrame): DataFrame =
      cand.repartition(col("qid")).distinct()
    def scoreBeam(cand: DataFrame, cut: Int): DataFrame = {
      val s = cand.join(broadcast(q), "qid")
        .join(fetchSide(e.select(col("vec_id").as("nid"), col("eL").as("nL"),
          col("ss").as("nss")), bcast), "nid")
        .select(col("qid"), col("nid"),
          (dotL(col("qL"), col("nL")) /
            (sqrt(col("qss")) * sqrt(col("nss")))).as("cosine"))
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
      s.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= cut)
    }
    // round-0 beam: global fixed entries fanned to every query, plus
    // (routed serve) per-query (qid, nid) entry pairs from the router
    var cur = q.select("qid").crossJoin(broadcast(entries))
      .filter(col("nid") =!= col("qid"))
      .select("qid", "nid")
    routed.foreach { r =>
      cur = cur.union(r.filter(col("nid") =!= col("qid"))
        .select("qid", "nid")).distinct()
    }
    for (_ <- 1 to rounds) {
      // graph probe side broadcast under the EDGE-count regime
      // (sym = 2·k·corpusRows narrow rows — graph-resident serve,
      // the DiskANN deployment shape); above the bound it shuffles
      val expand = cur.join(fetchSide(sym, bcastGraph),
          col("nid") === col("src"))
        .select(col("qid"), col("dst"))
        .filter(col("dst") =!= col("qid"))
        .select(col("qid"), col("dst").as("nid"))
      val cand = dedupByQid(cur.union(expand))
      val prev = cur
      cur = scoreBeam(cand, beam).select("qid", "nid").localCheckpoint()
      Clustering.release(prev) // round 1's prev is unpersisted — no-op
    }
    // sym is dead once the walk ends — the returned plan references
    // only cur/q/e — so its blocks are released here (ADVICE r18: a
    // long-lived session must not accumulate one dead graph copy per
    // serve call). In the lazy form, q and the final beam (cur) MUST
    // stay persisted: both sit inside the returned plan, and releasing
    // a localCheckpoint before the caller's action runs would fail the
    // job (truncated lineage cannot recompute). With `materialize`,
    // the result is checkpointed here and both are released.
    Clustering.release(sym)
    val out = scoreBeam(cur, k)
    if (!materialize) out
    else {
      val m = out.localCheckpoint()
      Clustering.release(cur)
      Clustering.release(q)
      m
    }
  }

  /** A (vec_id, embedding) frame as the (qid, qL, qss) query shape
    * [[knnServeVecs]] consumes — one definition so the door and the
    * gates scale/norm queries identically. */
  private[graft] def queryVecsOf(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("qid"), scaleL(col("embedding")).as("qL"))
      .withColumn("qss", normSqL(col("qL")))

  /** T83 — GRAPH-BASED ANN SERVE (the DiskANN / HNSW-layer-0 pattern:
    * Malkov & Yashunin 2018, Subramanya et al. NeurIPS'19): answer
    * queries by WALKING the standing t82 k-NN graph — fixed entry
    * points, [[ServeRounds]] beam-expansion rounds (neighbors of the
    * current beam over the symmetrized graph, exact long-dot rerank,
    * keep [[ServeBeam]]), publish each query's top-[[ServeK]]. This is
    * the other half of the t82 story: the graph is built ONCE at
    * curation time; each query then touches O(rounds·beam·k) vectors
    * instead of the corpus — the serve-cost shape every graph-ANN
    * system banks on. Queries are the t5 convention (vec_id < 10),
    * so the same queries' brute-force truth is already gated (t5) —
    * KnnServeSpec measures the walk's recall against it.
    *
    * Gate discipline: the oracle unrolls the ENTIRE composition —
    * t82's graph chain ([[knnGraphCtesSql]], byte-shared with the t82
    * gates) then [[ServeRounds]] serve rounds, each `x$r` (beam ∪ expansion,
    * UNION-deduped) → exact rerank ([[knnScoreCtesSql]], the build's
    * own scoring text at beam cut) — and the Spark side composes
    * [[nnDescentFrom]] + [[knnServeFrom]], so build and serve are one
    * definition in BOTH engines. Ranks CAST to BIGINT. */
  /** The [[ServeRounds]] unrolled serve-round CTEs (`x$r` beam ∪
    * expansion → exact rerank at beam cut → `b$r`), walking `gsym`
    * from relation `c0` — ONE text shared by t83 (fixed entries) and
    * t85 (routed entries), so the walk cannot drift between them.
    * Each beam feeds the next round TWICE (union arm + expansion arm)
    * and gsym is probed every round: without MATERIALIZED hints an
    * inlining planner re-evaluates the whole graph chain 2^rounds
    * times (measured: the plain form ran >15 min at sf0.01, the
    * hinted form seconds). MATERIALIZED is a DuckDB/Postgres hint —
    * semantics identical, evaluation pinned to once per CTE. */
  private def serveRoundsSql: String = (1 to ServeRounds).map { r =>
    val prev = if (r == 1) "c0" else s"b${r - 1}"
    s"""x$r AS (SELECT qid, nid FROM $prev
       |  UNION
       |  SELECT c.qid, g.dst AS nid FROM $prev c
       |  JOIN gsym g ON c.nid = g.src
       |  WHERE g.dst <> c.qid),
       |${knnScoreCtesSql(s"x$r", s"s$r", ServeBeam)},
       |b$r AS MATERIALIZED (SELECT qid, nid FROM gs$r)""".stripMargin
  }.mkString(",\n")

  val t83KnnServe: QuerySpec = {
    val serveRounds = serveRoundsSql
    QuerySpec.sql(
      "t83_knn_serve",
      s"""WITH ${knnGraphCtesSql(LshBits, LshTables, LshBucketCap)},
         |gsym AS MATERIALIZED (
         |  SELECT qid AS src, nid AS dst FROM g$KnnRounds
         |  UNION SELECT nid, qid FROM g$KnnRounds),
         |ent AS (SELECT vec_id FROM embeddings ORDER BY vec_id
         |  LIMIT $ServeEntries),
         |qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 10),
         |c0 AS MATERIALIZED (
         |  SELECT q.qid, e.vec_id AS nid FROM qs q, ent e
         |  WHERE e.vec_id <> q.qid),
         |$serveRounds
         |SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rank, nid, cosine
         |FROM gs$ServeRounds WHERE rnk <= $ServeK
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val e = embCheckpointed(s, d)
      val edges = standingGraphReused(s, d, LshBits, LshTables,
        LshBucketCap, fill = false).select("qid", "nid")
      val qids = e.select(col("vec_id").as("qid")).filter(col("qid") < 10)
      val ents = e.select(col("vec_id").as("nid"))
        .orderBy("nid").limit(ServeEntries)
      knnServeFrom(e, edges, qids, ents, ServeBeam, ServeRounds, ServeK,
          corpusRows = Some(embCount(s, d)))
        .select(col("qid").as("query_id"), col("rank"), col("nid"),
          col("cosine"))
        .orderBy("query_id", "rank")
    }
  }

  // ---- T85: ROUTED graph serve (coarse router + graph walk) ----

  /** Per-query entry candidates kept from the LSH router. */
  private[graft] val RouteEntries = 8

  /** T85 — ROUTED GRAPH SERVE: the production serve composition a
    * CLUSTERED corpus requires. A pure k-NN graph on clustered data
    * is a set of metric ISLANDS — between clusters there is no cosine
    * gradient for a greedy walk to climb, so t83's fixed-entry beam
    * search cannot navigate to the query's island (measured on the
    * ×10 decade corpus: recall 0.00 fixed-entry vs 1.00 routed —
    * COVERAGE r19; sf0.001's RANDOM embeddings are the
    * easy case where fixed entries suffice). Every deployed graph-ANN
    * system pairs the graph with a coarse router for exactly this
    * reason (DiskANN's quantizer-selected entry, HNSW's upper-layer
    * hierarchy); here the router is the engine's own standing LSH
    * index ([[annLshEntries]] — the t10b keys, cap screen and all):
    * each query's round-0 beam = its same-bucket mates (first
    * [[RouteEntries]] by nid) ∪ the fixed entries as the backstop for
    * queries whose buckets are empty or over-cap. The graph walk then
    * refines: [[serveRoundsSql]]'s recurrence, byte-shared with t83.
    *
    * Gate discipline: the oracle unrolls the t82c dense-seed graph
    * chain ([[knnGraphCtesSql]] with fill — the scale-config graph
    * this serve tier belongs to), routes off the chain's own `keys` /
    * `ok` CTEs (the bucket definition cannot drift from the build's),
    * and walks the shared serve rounds. Ranks CAST to BIGINT. */
  val t85RoutedServe: QuerySpec = QuerySpec.sql(
    "t85_routed_serve",
    s"""WITH ${knnGraphCtesSql(12, 4, LshBucketCap, fill = true)},
       |gsym AS MATERIALIZED (
       |  SELECT qid AS src, nid AS dst FROM g$KnnRounds
       |  UNION SELECT nid, qid FROM g$KnnRounds),
       |ent AS (SELECT vec_id FROM embeddings ORDER BY vec_id
       |  LIMIT $ServeEntries),
       |qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 10),
       |rq AS (SELECT DISTINCT k.vec_id AS qid, y.vec_id AS nid
       |  FROM keys k JOIN keys y ON k.tbl = y.tbl AND k.bkey = y.bkey
       |    AND y.vec_id <> k.vec_id
       |  JOIN ok o ON k.tbl = o.tbl AND k.bkey = o.bkey
       |  WHERE k.vec_id < 10),
       |rcap AS (SELECT qid, nid FROM (
       |    SELECT qid, nid, ROW_NUMBER() OVER (
       |      PARTITION BY qid ORDER BY nid) AS rn FROM rq)
       |  WHERE rn <= $RouteEntries),
       |c0 AS MATERIALIZED (
       |  SELECT q.qid, e.vec_id AS nid FROM qs q, ent e
       |  WHERE e.vec_id <> q.qid
       |  UNION SELECT qid, nid FROM rcap),
       |$serveRoundsSql
       |SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rank, nid, cosine
       |FROM gs$ServeRounds WHERE rnk <= $ServeK
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val e = embCheckpointed(s, d)
    val g = standingGraphReused(s, d, 12, 4, LshBucketCap, fill = true)
    val queries = e.filter(col("vec_id") < 10)
    val routed = annLshEntries(e.select("vec_id", "embedding"),
      queries.select("vec_id", "embedding"), 12, 4, LshBucketCap,
      RouteEntries)
    val qvecs = queries.select(col("vec_id").as("qid"),
      col("eL").as("qL"), col("ss").as("qss"))
    val ents = e.select(col("vec_id").as("nid"))
      .orderBy("nid").limit(ServeEntries)
    knnServeVecs(e, g.select("qid", "nid"), qvecs, ents,
        ServeBeam, ServeRounds, ServeK, routed = Some(routed),
        corpusRows = Some(embCount(s, d)))
      .select(col("qid").as("query_id"), col("rank"), col("nid"),
        col("cosine"))
      .orderBy("query_id", "rank")
  }

  // ---- T84: delta insert into the standing k-NN graph ----

  /** New vectors for t84 are the t5/t83 query convention (vec_id <
    * 10); the standing graph is built over the REST — so the same
    * corpus carries both tiers without a synthetic split column. */
  private[graft] val InsertNewMax = 10

  /** The DiskANN-style INSERT (Subramanya et al. NeurIPS'19 §4.2,
    * FreshDiskANN arXiv:2105.09613): each new vector's candidate set
    * is a SERVE WALK from the entry points over the standing graph
    * ([[knnServeVecs]] — the gate-shared recurrence, materialized);
    * its top-`k` results become its forward edges, and each touched
    * base node receives the reverse edge, merged with its existing
    * list under the DEGREE CAP `k` (re-rank by exact cosine, worst
    * edge evicted — the back-edge cap KnnGraphSpec pins on a hand
    * graph). Returns the UPDATED graph: capped base lists ∪ new
    * vectors' forward lists, each row (qid, rank, nid, cosine).
    *
    * Scale shape: the walk is per-new-vector O(rounds·beam·k) —
    * corpus-independent, the t83 property — and the merge is one
    * qid-partitioned rank window over |graph| + |new|·k rows; no
    * corpus rescan, no rebuild. This is the standing-index delta
    * pattern t38b pins for band indexes, applied to the vector
    * graph.
    *
    * `routed` carries each new vector's per-query entry pairs (the
    * [[annLshEntries]] router) into the connect walk — REQUIRED on
    * clustered corpora: the fixed-entry walk measures recall 0.000
    * across every decade of the clustered scale corpus (COVERAGE r19),
    * so an unrouted insert connects new vectors to the
    * wrong metric island, which then poisons routed serve for those
    * nodes too (VERDICT r19 item 1). t84 and the insert door both
    * route. `corpusRows` as in [[knnServeVecs]]. */
  private[graft] def graphInsert(e: DataFrame, g: DataFrame,
      newVecs: DataFrame, entries: DataFrame, k: Int,
      materialize: Boolean = false,
      routed: Option[DataFrame] = None,
      corpusRows: Option[Long] = None): DataFrame = {
    val fwd = knnServeVecs(e, g.select("qid", "nid"), newVecs, entries,
      ServeBeam, ServeRounds, k, materialize = true, // feeds BOTH arms
      routed = routed, corpusRows = corpusRows)
    val backc = g.select("qid", "nid", "cosine")
      .union(fwd.select(col("nid").as("qid"), col("qid").as("nid"),
        col("cosine")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
    val merged = backc
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
    val out = merged.select("qid", "rank", "nid", "cosine")
      .unionByName(fwd.select("qid", "rank", "nid", "cosine"))
    // lazy form keeps fwd persisted (the returned plan reads it twice);
    // materialize checkpoints the merged graph and releases it — the
    // per-batch footprint the insert door needs
    if (!materialize) out
    else {
      val m = out.localCheckpoint()
      Clustering.release(fwd)
      m
    }
  }

  /** T84 — DELTA INSERT into the standing k-NN graph: the production
    * op every graph-ANN deployment needs between rebuilds — new
    * vectors arrive, get connected, and the graph stays degree-capped,
    * WITHOUT rebuilding (t38b's capped standing-index contract,
    * vector-graph edition). Base graph = the t82c dense-seed build
    * (scale config + [[seedFill]]) over vec_id ≥ [[InsertNewMax]];
    * inserts = the t5 query set. Composition is entirely from gated
    * parts: [[nnDescentFrom]] build, [[annLshEntries]] ROUTING (the
    * t85 composition — the connect walk starts on each new vector's
    * own LSH island, without which clustered corpora get recall-0.000
    * edges), [[knnServeVecs]] walk, [[knnScoreCtesSql]] arithmetic.
    *
    * Gate discipline: the oracle unrolls the FULL composition — the
    * dense-seed graph chain over `emb_base` ([[knnGraphCtesSql]] with
    * fill, byte-shared with t82c's oracle), the router CTEs (new-vector
    * keys against the chain's own `keys`/`ok` bucket definition, t85's
    * rq/rcap text), [[ServeRounds]] serve rounds (t83's
    * MATERIALIZED-hint discipline), then the
    * forward/back-edge merge as plain rank SQL. Disjoint qid spaces
    * (new < 10 ≤ base) make (qid, rank) a total order across both
    * arms. Ranks CAST to BIGINT. */
  val t84GraphInsert: QuerySpec = {
    val serveRounds = (1 to ServeRounds).map { r =>
      val prev = if (r == 1) "ic0" else s"ib${r - 1}"
      s"""ix$r AS (SELECT qid, nid FROM $prev
         |  UNION
         |  SELECT c.qid, g.dst AS nid FROM $prev c
         |  JOIN gsym g ON c.nid = g.src
         |  WHERE g.dst <> c.qid),
         |${knnScoreCtesSql(s"ix$r", s"i$r", ServeBeam)},
         |ib$r AS MATERIALIZED (SELECT qid, nid FROM gi$r)""".stripMargin
    }.mkString(",\n")
    QuerySpec.sql(
      "t84_graph_insert",
      s"""WITH emb_base AS (
         |  SELECT * FROM embeddings WHERE vec_id >= $InsertNewMax),
         |${knnGraphCtesSql(12, 4, LshBucketCap, rel = "emb_base",
             fill = true)},
         |gsym AS MATERIALIZED (
         |  SELECT qid AS src, nid AS dst FROM g$KnnRounds
         |  UNION SELECT nid, qid FROM g$KnnRounds),
         |ent AS (SELECT vec_id FROM emb_base ORDER BY vec_id
         |  LIMIT $ServeEntries),
         |iqs AS (SELECT vec_id AS qid FROM embeddings
         |  WHERE vec_id < $InsertNewMax),
         |nvq AS (SELECT * FROM embeddings WHERE vec_id < $InsertNewMax),
         |nkeys AS (
         |  ${lshKeysSql(12, 4, "nvq")}
         |),
         |irq AS (SELECT DISTINCT n.vec_id AS qid, k.vec_id AS nid
         |  FROM nkeys n JOIN keys k ON n.tbl = k.tbl AND n.bkey = k.bkey
         |    AND k.vec_id <> n.vec_id
         |  JOIN ok o ON k.tbl = o.tbl AND k.bkey = o.bkey),
         |ircap AS (SELECT qid, nid FROM (
         |    SELECT qid, nid, ROW_NUMBER() OVER (
         |      PARTITION BY qid ORDER BY nid) AS rn FROM irq)
         |  WHERE rn <= $RouteEntries),
         |ic0 AS MATERIALIZED (
         |  SELECT q.qid, e.vec_id AS nid FROM iqs q, ent e
         |  WHERE e.vec_id <> q.qid
         |  UNION SELECT qid, nid FROM ircap),
         |$serveRounds,
         |fwd AS MATERIALIZED (SELECT qid, nid, cosine, rnk
         |  FROM gi$ServeRounds WHERE rnk <= $KnnK),
         |backc AS (SELECT qid, nid, cosine FROM g$KnnRounds
         |  UNION ALL SELECT nid AS qid, qid AS nid, cosine FROM fwd),
         |merged AS (SELECT qid, nid, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, nid) AS rnk
         |  FROM backc)
         |SELECT qid, CAST(rnk AS BIGINT) AS rank, nid, cosine
         |FROM merged WHERE rnk <= $KnnK
         |UNION ALL
         |SELECT qid, CAST(rnk AS BIGINT) AS rank, nid, cosine FROM fwd
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      // e via the shared memo; the base-SUBSET graph stays a direct
      // per-gate build — no other consumer, so a memo would cache the
      // gate's own work rather than share a standing artifact. The
      // build's EAGER jobs are labeled (VERDICT r20 item 6) so a
      // QTIME_JOBS trace attributes build vs insert-walk wall; the
      // ambient description is restored before the walk so the timed
      // action's jobs keep the caller's label.
      val e = embCheckpointed(s, d)
      val sc0 = s.sparkContext
      val prevDesc = sc0.getLocalProperty("spark.job.description")
      sc0.setJobDescription("t84: base-subset graph build")
      val base = e.filter(col("vec_id") >= InsertNewMax)
      // exact subset count (the fill modulus needs truth, not the
      // dense-id assumption) — ONE job shared by the fill and the
      // broadcast-regime decision instead of one each
      val baseRows = Some(base.count())
      val lsh = annLshPairsRaw(base, 12, 4, LshBucketCap)
        .select("qid", "nid").localCheckpoint()
      val g = nnDescentFrom(base,
        lsh.union(seedFill(base, lsh, KnnK, baseRows)),
        KnnK, KnnRounds, baseRows)
      Clustering.release(lsh) // round 0 consumed it (eager)
      sc0.setJobDescription(prevDesc)
      val newVecs = e.filter(col("vec_id") < InsertNewMax)
        .select(col("vec_id").as("qid"), col("eL").as("qL"),
          col("ss").as("qss"))
      val ents = base.select(col("vec_id").as("nid"))
        .orderBy("nid").limit(ServeEntries)
      val routed = annLshEntries(base.select("vec_id", "embedding"),
        e.filter(col("vec_id") < InsertNewMax)
          .select("vec_id", "embedding"),
        12, 4, LshBucketCap, RouteEntries)
      graphInsert(e, g, newVecs, ents, KnnK, routed = Some(routed),
          corpusRows = Some(embCount(s, d)))
        .select("qid", "rank", "nid", "cosine")
        .orderBy("qid", "rank")
    }
  }

  // ---- T86: delete from the standing k-NN graph (repair) ----

  /** The FreshDiskANN-style DELETE (Singh et al. arXiv:2105.09613
    * §4.1): remove `delIds` from the standing graph and REPAIR the
    * survivors' lists instead of rebuilding. A deleted node's own rows
    * drop; every live node that pointed at a deleted one re-ranks over
    * (its remaining live neighbors) ∪ (each deleted neighbor's live
    * neighbors) — the one-hop patch-through that preserves the deleted
    * node's connectivity role — exact-scored, cut back to `k`.
    * Untouched nodes pass through byte-identical (original ranks).
    * Degree can DEGRADE when a repair's candidate pool is thin (a node
    * whose every neighbor died keeps only patched-through candidates;
    * none → it emits nothing) — the documented FreshDiskANN trade, the
    * periodic full rebuild being the backstop.
    *
    * Scale shape: three anti/semi joins on ids + one candidate
    * re-rank bounded by |touched|·k·(k+1) rows — no corpus rescan, no
    * rebuild; with [[VecBroadcastMaxRows]] the re-rank shuffles only
    * id pairs. */
  private[graft] def graphDelete(e: DataFrame, g: DataFrame,
      delIds: DataFrame, k: Int,
      corpusRows: Option[Long] = None,
      materialize: Boolean = false): DataFrame = {
    val dset = delIds.select(col("vec_id").as("d")).localCheckpoint()
    // live rows: survivor-owned edges (targets may still be deleted)
    val live = g.join(dset, col("qid") === col("d"), "left_anti")
      .localCheckpoint() // feeds touched, remv, untouched
    val touched = live.join(dset, col("nid") === col("d"), "left_semi")
      .select("qid").distinct()
    // remaining live→live edges of touched nodes
    val remv = live.join(dset, col("nid") === col("d"), "left_anti")
      .join(touched, Seq("qid"), "left_semi")
      .select("qid", "nid")
    // patch-through: deleted neighbors' own live targets
    val delOut = g.join(dset, col("qid") === col("d"), "left_semi")
      .join(dset.select(col("d").as("d2")), col("nid") === col("d2"),
        "left_anti")
      .select(col("qid").as("mid"), col("nid").as("vnid"))
    val via = live.join(dset, col("nid") === col("d"), "left_semi")
      .select(col("qid"), col("nid").as("mid"))
      .join(delOut, "mid")
      .filter(col("vnid") =!= col("qid"))
      .select(col("qid"), col("vnid").as("nid"))
    val cand = remv.union(via).distinct()
    val repaired = knnScoreTopK(e, cand, k,
      corpusRows.getOrElse(e.count()) <= VecBroadcastMaxRows)
    val untouched = live.join(touched, Seq("qid"), "left_anti")
    val out = untouched.select("qid", "rank", "nid", "cosine")
      .unionByName(repaired.select("qid", "rank", "nid", "cosine"))
    // lazy form leaves dset/live persisted (the returned plan reads
    // them); materialize checkpoints the repaired graph and releases
    // both — the per-batch footprint the CRUD door needs
    if (!materialize) out
    else {
      val m = out.localCheckpoint()
      Clustering.release(dset)
      Clustering.release(live)
      m
    }
  }

  /** T86 — GRAPH DELETE: the missing quarter of the standing-index
    * CRUD story (build t82/t82c · serve t83/t85 · insert t84 · delete
    * t86). Deletes the t5 id set (vec_id < [[InsertNewMax]]) from the
    * t82c dense-seed graph over the full corpus and repairs via
    * [[graphDelete]]. Oracle unrolls the graph chain (byte-shared with
    * t82c) then the delete/repair as plain SQL: live/touched/remv/via
    * CTEs and the build's own scoring text over the repair candidates.
    * Disjointness of the untouched (original rnk) and repaired
    * (re-ranked) arms keeps (qid, rank) a total order. */
  /** The delete/repair CTEs (del → live → touched → remv → via →
    * re-rank), ending at `pd` = the post-delete graph — ONE text
    * shared by t86 and t88 (which consolidates the degradation t86's
    * repair honestly leaves behind). Walks the build chain's
    * `g$KnnRounds`. `delBody` overrides the deleted-id set (t86: the
    * t5 ids; t88: a graph-derived set, passed MATERIALIZED because it
    * re-reads the chain). */
  private def graphDeleteCtesSql: String = graphDeleteCtesSqlWith(
    s"del AS (SELECT vec_id FROM embeddings\n" +
      s"  WHERE vec_id < $InsertNewMax)")

  private def graphDeleteCtesSqlWith(delCte: String): String =
    s"""$delCte,
       |live AS (SELECT qid, nid, cosine, rnk FROM g$KnnRounds
       |  WHERE qid NOT IN (SELECT vec_id FROM del)),
       |touched AS (SELECT DISTINCT qid FROM live
       |  WHERE nid IN (SELECT vec_id FROM del)),
       |remv AS (SELECT qid, nid FROM live
       |  WHERE nid NOT IN (SELECT vec_id FROM del)
       |    AND qid IN (SELECT qid FROM touched)),
       |via AS (SELECT DISTINCT p.qid, q.nid
       |  FROM live p JOIN g$KnnRounds q ON p.nid = q.qid
       |  WHERE p.nid IN (SELECT vec_id FROM del)
       |    AND q.nid NOT IN (SELECT vec_id FROM del)
       |    AND q.nid <> p.qid),
       |rcand AS (SELECT qid, nid FROM remv UNION SELECT qid, nid FROM via),
       |${knnScoreCtesSql("rcand", "rp", KnnK)},
       |pd AS MATERIALIZED (SELECT qid, nid, cosine, rnk FROM live
       |  WHERE qid NOT IN (SELECT qid FROM touched)
       |  UNION ALL
       |  SELECT qid, nid, cosine, rnk FROM grp)""".stripMargin

  val t86GraphDelete: QuerySpec = QuerySpec.sql(
    "t86_graph_delete",
    s"""WITH ${knnGraphCtesSql(12, 4, LshBucketCap, fill = true)},
       |$graphDeleteCtesSql
       |SELECT qid, CAST(rnk AS BIGINT) AS rank, nid, cosine FROM pd
       |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val e = embCheckpointed(s, d)
    val g = standingGraphReused(s, d, 12, 4, LshBucketCap, fill = true)
    val dels = e.filter(col("vec_id") < InsertNewMax).select("vec_id")
    graphDelete(e, g, dels, KnnK, corpusRows = Some(embCount(s, d)))
      .select("qid", "rank", "nid", "cosine")
      .orderBy("qid", "rank")
  }

  // ---- T88: consolidation (FreshDiskANN StreamingMerge) ----

  /** CONSOLIDATION — the FreshDiskANN StreamingMerge (Singh et al.
    * arXiv:2105.09613 §4.2), previously only a scaladoc backstop
    * ("periodic rebuild") and now an operator (VERDICT r19 item 4):
    * after enough CRUD batches, delete repairs with thin candidate
    * pools leave nodes holding < `k` edges (t86's honest degradation)
    * and insert back-edge caps evict good edges. Instead of a full
    * rebuild, rebuild ONLY the DEGRADED nodes' lists (degree < k, or
    * absent from the graph entirely): each draws candidates from its
    * current neighbors, its 2-hop neighborhood over the symmetrized
    * live graph, and `k` deterministic hash-random partners (the
    * [[seedFill]] fill arm — the arm that covers nodes whose whole
    * neighborhood died), exact-rescored and cut to `k`. Non-degraded
    * nodes pass through byte-identical.
    *
    * `e` must be the LIVE corpus (deleted rows removed) — candidate
    * targets and fill positions draw from it, and the inner scoring
    * joins drop any stale edge to a non-live id for free. Cost is
    * |degraded|-proportional (each degraded node contributes ≤
    * k + k² 2-hop + k fill candidates), not corpus-proportional —
    * the merge-vs-rebuild trade the FreshDiskANN paper makes. */
  private[graft] def graphConsolidate(e: DataFrame, g: DataFrame,
      k: Int, corpusRows: Option[Long] = None,
      materialize: Boolean = false): DataFrame = {
    val n = corpusRows.getOrElse(e.count())
    val deg = g.groupBy("qid").agg(count(lit(1)).as("dg"))
    val degraded = e.select("vec_id")
      .join(deg, col("vec_id") === col("qid"), "left")
      .filter(col("dg").isNull || col("dg") < k)
      .select("vec_id").localCheckpoint() // feeds hop1, fill, keep-anti
    val edges = g.select("qid", "nid")
    val sym = edges.select(col("qid").as("src"), col("nid").as("dst"))
      .union(edges.select(col("nid").as("src"), col("qid").as("dst")))
      .localCheckpoint() // probed twice (hop1 + hop2)
    val hop1 = degraded.join(sym, col("vec_id") === col("src"))
      .select(col("vec_id").as("qid"), col("dst").as("nid"))
    val hop2 = hop1.join(sym, col("nid") === col("src"))
      .select(col("qid"), col("dst").as("nid"))
    val fill = hashFillFor(e, degraded, k, n)
    val cand = hop1.union(hop2).union(fill)
      .filter(col("nid") =!= col("qid")).distinct()
    val rebuilt = knnScoreTopK(e, cand, k, n <= VecBroadcastMaxRows)
    val keep = g.join(degraded, col("qid") === col("vec_id"), "left_anti")
    val out = keep.select("qid", "rank", "nid", "cosine")
      .unionByName(rebuilt.select("qid", "rank", "nid", "cosine"))
    if (!materialize) out
    else {
      val m = out.localCheckpoint()
      Clustering.release(degraded)
      Clustering.release(sym)
      m
    }
  }

  /** T88 — POST-CRUD CONSOLIDATION: the dense-seed build, a SURGICAL
    * delete — the 2-HOP NEIGHBORHOOD of node 0, the cut that kills
    * node 0's entire repair pool (its neighbors die, and every
    * patch-through target dies with them), so t86's honest-degradation
    * case actually OCCURS at gate scale: node 0 drops out of the
    * post-delete graph entirely, and boundary nodes keep thin lists —
    * then [[graphConsolidate]]: the degraded survivors' lists rebuilt
    * to full degree (node 0 resurrected through its surviving
    * IN-edges + the hash-fill arm) without touching the healthy ones.
    * Oracle unrolls the whole chain: the t82c build CTEs, the
    * delete/repair CTEs ([[graphDeleteCtesSqlWith]] — byte-shared
    * with t86 except the del set, which re-reads the chain and is
    * therefore MATERIALIZED), then the consolidate CTEs (degree
    * census → 1-hop ∪ 2-hop ∪ hash-fill candidates → the build's own
    * scoring text). (qid, rank) stays a total order: keep and rebuilt
    * arms are disjoint by qid. */
  val t88GraphConsolidate: QuerySpec = QuerySpec.sql(
    "t88_graph_consolidate",
    s"""WITH ${knnGraphCtesSql(12, 4, LshBucketCap, fill = true)},
       |${graphDeleteCtesSqlWith(
          s"""del AS MATERIALIZED (
             |  SELECT DISTINCT nid AS vec_id FROM g$KnnRounds
             |  WHERE qid = 0 AND nid <> 0
             |  UNION
             |  SELECT DISTINCT b.nid AS vec_id
             |  FROM g$KnnRounds a JOIN g$KnnRounds b ON a.nid = b.qid
             |  WHERE a.qid = 0 AND b.nid <> 0)""".stripMargin)},
       |el AS MATERIALIZED (SELECT * FROM embeddings
       |  WHERE vec_id NOT IN (SELECT vec_id FROM del)),
       |cdeg AS (SELECT qid, COUNT(*) AS dg FROM pd GROUP BY qid),
       |cdegr AS MATERIALIZED (SELECT vec_id FROM el WHERE vec_id NOT IN (
       |  SELECT qid FROM cdeg WHERE dg >= $KnnK)),
       |csym AS MATERIALIZED (SELECT qid AS src, nid AS dst FROM pd
       |  UNION SELECT nid, qid FROM pd),
       |chop1 AS (SELECT d.vec_id AS qid, s.dst AS nid
       |  FROM cdegr d JOIN csym s ON d.vec_id = s.src),
       |chop2 AS (SELECT h.qid, s.dst AS nid
       |  FROM chop1 h JOIN csym s ON h.nid = s.src),
       |cpos AS (SELECT vec_id,
       |  ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS pos FROM el),
       |cnv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM el),
       |cfill AS (SELECT d.vec_id AS qid, p.vec_id AS nid
       |  FROM cdegr d CROSS JOIN range(0, $KnnK) t(i) CROSS JOIN cnv
       |  JOIN cpos p ON p.pos = ${hash48Sql("d.vec_id", "t.i")} % cnv.n
       |  WHERE p.vec_id <> d.vec_id),
       |ccand AS (SELECT qid, nid FROM (
       |    SELECT qid, nid FROM chop1
       |    UNION SELECT qid, nid FROM chop2
       |    UNION SELECT qid, nid FROM cfill)
       |  WHERE nid <> qid),
       |${knnScoreCtesSql("ccand", "cc", KnnK)}
       |SELECT qid, CAST(rnk AS BIGINT) AS rank, nid, cosine FROM pd
       |WHERE qid NOT IN (SELECT vec_id FROM cdegr)
       |UNION ALL
       |SELECT qid, CAST(rnk AS BIGINT) AS rank, nid, cosine FROM gcc
       |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val e = embCheckpointed(s, d)
    val g = standingGraphReused(s, d, 12, 4, LshBucketCap, fill = true)
    // the surgical del set: node 0's out-neighbors and THEIR
    // out-neighbors (never 0 itself) — kills 0's whole repair pool
    val n1 = g.filter(col("qid") === 0L).select(col("nid").as("vec_id"))
    val n2 = g.filter(col("qid") === 0L).select(col("nid").as("m"))
      .join(g.select(col("qid").as("m"), col("nid")), "m")
      .select(col("nid").as("vec_id"))
    val dels = n1.union(n2).filter(col("vec_id") =!= 0L).distinct()
      .localCheckpoint() // read by delete (5×) and the live-corpus anti
    val pd = graphDelete(e, g, dels, KnnK,
      corpusRows = Some(embCount(s, d)), materialize = true)
    val eLive = e.join(dels.select(col("vec_id").as("d")),
      col("vec_id") === col("d"), "left_anti")
    // live count = corpus − deletions (dels ⊆ corpus ids, distinct,
    // checkpointed): a cheap count of the tiny delete set instead of
    // running the live anti-join once more just to count it
    graphConsolidate(eLive, pd, KnnK,
        corpusRows = Some(embCount(s, d) - dels.count()))
      .select("qid", "rank", "nid", "cosine")
      .orderBy("qid", "rank")
  }

  /** T16 — int8 VECTOR QUANTIZATION: per-vector absmax scale
    * (s = max|x|/127), round-half-away to int8, with a weighted
    * checksum of the codes and the exact max reconstruction error per
    * vector. The 4× memory cut that makes billion-vector ANN fit in
    * executor memory; scan-local, zero shuffle.
    *
    * Float discipline: only MAX and INTEGER sums aggregate (both
    * order-independent); every double op (one divide, one multiply per
    * element, the half-away floor) has an identical formula on the
    * DuckDB side, so parity is by construction — no double SUM
    * anywhere. */
  val t16Quantize: QuerySpec = QuerySpec.sql(
    "t16_quantize",
    s"""WITH v AS (
       |  SELECT vec_id, i, CAST(embedding[i+1] AS DOUBLE) AS x
       |  FROM embeddings, range(0, 64) t(i)
       |), m AS (
       |  SELECT vec_id, MAX(ABS(x)) / 127 AS scale FROM v GROUP BY vec_id
       |), q AS (
       |  SELECT v.vec_id, i, x, scale,
       |    CASE WHEN scale > 0
       |         THEN ${graft.functions.ExactNum.rndSql("(x / scale)")}
       |         ELSE 0 END AS qi
       |  FROM v JOIN m ON v.vec_id = m.vec_id
       |)
       |SELECT vec_id, scale,
       |  CAST(SUM(qi * (i + 1)) AS BIGINT) AS qsum,
       |  MAX(ABS(qi * scale - x)) AS max_abs_err
       |FROM q GROUP BY vec_id, scale
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    val e = col("embedding")
    val scale = array_max(transform(e, x => abs(x.cast("double")))) / lit(127)
    val withS = Tables.embeddings(s, d)
      .select(col("vec_id"), e.as("e"), scale.as("scale"))
    val qi = (x: Column) =>
      when(col("scale") > 0,
        graft.functions.ExactNum.rnd(x.cast("double") / col("scale"))
          .cast("long")).otherwise(0L)
    val qArr = transform(col("e"), x => qi(x))
    val idx = sequence(lit(1), lit(64))
    withS.select(col("vec_id"), col("scale"),
      aggregate(zip_with(qArr, idx, (a, b) => a * b), lit(0L),
        (acc, v) => acc + v).as("qsum"),
      array_max(zip_with(qArr, col("e"),
        (a, x) => abs(a * col("scale") - x.cast("double")))).as("max_abs_err"))
      .orderBy("vec_id")
  }

  // ---- T18: IVF (inverted-file) ANN ----

  private[queries] val IvfCentroids = 16
  private[queries] val IvfProbes = 2

  /** T18 — IVF ANN, the other classic scale path (vs t10's LSH): the
    * corpus is partitioned into `IvfCentroids` clusters by
    * nearest-centroid cosine; a query probes only its `IvfProbes`
    * closest clusters and scores candidates exactly inside them.
    * Centroids here are deterministically seeded (the first C vectors
    * — a k-means|| seeding stand-in: the ASSIGNMENT and PROBE
    * machinery is the operator; Lloyd refinement would only move the
    * centroid values, not the plan shape).
    *
    * Scale shape: the centroid set is tiny and BROADCAST — assignment
    * is a per-row argmax over C candidates (no corpus self-join, the
    * 16-row-per-vector window is partition-local after the broadcast);
    * the probe join fans each query to `IvfProbes` cluster partitions
    * only — the inverted-file contract that keeps search sublinear.
    * All similarity math is the exact pre-scaled long arithmetic the
    * other vector ops use. Ties break by centroid/neighbor id, total
    * order both sides. */
  /** IVF core: every vector's centroid-cosine ranking (crn = 1 is the
    * assignment; crn ≤ nprobe is a query's probe set). Accepts either a
    * raw (vec_id, embedding) frame or one already carrying eL/ss. */
  private[graft] def ivfRanked(emb: DataFrame, c: Int): DataFrame = {
    val e =
      if (emb.columns.contains("eL")) emb.select("vec_id", "eL", "ss")
      else emb.select(col("vec_id"), scaleL(col("embedding")).as("eL"))
        .withColumn("ss", normSqL(col("eL")))
    val cent = e.filter(col("vec_id") < c)
      .select(col("vec_id").as("cid"), col("eL").as("cL"), col("ss").as("css"))
    val cos = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"),
        (dotL(col("eL"), col("cL")) / (sqrt(col("ss")) * sqrt(col("css"))))
          .as("cos"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cid"))
    cos.withColumn("crn", row_number().over(w))
  }

  /** Observability twin: cluster occupancy (cid, n) — the imbalance
    * feed a pipeline alerts on. IVF skew is inherent (a hot region of
    * embedding space IS one cluster); the 100 TB remedy is raising the
    * centroid count / re-seeding — a config, like t10's bits — and
    * this view is what tells you when. */
  private[graft] def ivfClusterSizes(emb: DataFrame, c: Int): DataFrame =
    ivfRanked(emb, c).filter(col("crn") === 1)
      .groupBy("cid").agg(count(lit(1)).as("n"))

  /** Shared coarse-IVF oracle CTE text (t18 + t46): centroid-cosine
    * ranking, assignment (crn = 1), the nprobe query sets, and the
    * probed candidate list. Expects a preceding `sq` norms CTE. */
  private def ivfCoarseCtesSql(c: Int, p: Int): String =
    s"""prods AS (
       |  SELECT v.vec_id, c.vec_id AS cid,
       |    ${prodLSql("v.embedding[i+1]", "c.embedding[i+1]")} AS pr
       |  FROM embeddings v, embeddings c, range(0, 64) t(i)
       |  WHERE c.vec_id < $c
       |),
       |cos_vc AS (
       |  SELECT p.vec_id, p.cid,
       |    (CAST(SUM(pr) AS DOUBLE) / 1e12) / (sqrt(a.ss) * sqrt(b.ss)) AS cos
       |  FROM prods p JOIN sq a ON p.vec_id = a.vec_id
       |    JOIN sq b ON p.cid = b.vec_id
       |  GROUP BY p.vec_id, p.cid, a.ss, b.ss
       |),
       |ranked_vc AS (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, cid) AS crn
       |  FROM cos_vc
       |),
       |assign AS (SELECT vec_id, cid FROM ranked_vc WHERE crn = 1),
       |probes AS (SELECT vec_id AS qid, cid FROM ranked_vc
       |  WHERE crn <= $p AND vec_id < 10),
       |cand AS (
       |  SELECT pr.qid, a.vec_id AS nid, a.cid
       |  FROM probes pr JOIN assign a ON pr.cid = a.cid
       |  WHERE a.vec_id <> pr.qid
       |)""".stripMargin

  val t18AnnIvf: QuerySpec = {
    val c = IvfCentroids; val p = IvfProbes
    QuerySpec.sql(
      "t18_ann_ivf",
      s"""WITH sq AS ($NormsSql),
         |${ivfCoarseCtesSql(c, p)},
         |cprod AS (
         |  SELECT cand.qid, cand.nid, cand.cid,
         |    ${prodLSql("x.embedding[i+1]", "y.embedding[i+1]")} AS pr
         |  FROM cand JOIN embeddings x ON cand.qid = x.vec_id
         |    JOIN embeddings y ON cand.nid = y.vec_id, range(0, 64) t(i)
         |),
         |cos_qn AS (
         |  SELECT c2.qid, c2.nid, c2.cid,
         |    (CAST(SUM(pr) AS DOUBLE) / 1e12) / (sqrt(a.ss) * sqrt(b.ss)) AS cosine
         |  FROM cprod c2 JOIN sq a ON c2.qid = a.vec_id
         |    JOIN sq b ON c2.nid = b.vec_id
         |  GROUP BY c2.qid, c2.nid, c2.cid, a.ss, b.ss
         |),
         |out AS (
         |  SELECT qid, nid, cid, cosine, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM cos_qn
         |)
         |SELECT qid, rank, nid, cid, cosine FROM out WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = embScaled(s, d).localCheckpoint() // scan once: centroids + assign + score
      val rankedVc = ivfRanked(emb, c)
        .localCheckpoint() // assignment reused by probes + candidates
      val assign = rankedVc.filter(col("crn") === 1).select("vec_id", "cid")
      val probes = rankedVc.filter(col("crn") <= p && col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("cid"))
      val cand = probes.join(assign, "cid")
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"), col("cid"))
      val cos = cand
        .join(emb.select(col("vec_id").as("qid"), col("eL").as("qL"),
          col("ss").as("ss_a")), "qid")
        .join(emb.select(col("vec_id").as("nid"), col("eL").as("nL"),
          col("ss").as("ss_b")), "nid")
        .select(col("qid"), col("nid"), col("cid"),
          (dotL(col("qL"), col("nL")) / (sqrt(col("ss_a")) * sqrt(col("ss_b"))))
            .as("cosine"))
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
      cos.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("qid", "rank", "nid", "cid", "cosine")
        .orderBy("qid", "rank")
    }
  }

  /** T20 — ANN recall observability: recall@3 of the IVF path against
    * the brute-force ground truth, per query. The approximate families
    * trade recall for sublinear search; a pipeline must MEASURE that
    * trade (alongside t10's overflow and t18's occupancy views), not
    * assume it. Composed from the t5/t18 definitions on BOTH sides —
    * the Spark side joins the two operators' outputs, the oracle
    * embeds their SQL texts as CTEs — so the recall gate can never
    * drift from the operators it scores. */
  val t20AnnRecall: QuerySpec = QuerySpec.sql(
    "t20_ann_recall",
    s"""WITH bf AS (${t5AnnBruteForce.oracle}),
       |ivf AS (${t18AnnIvf.oracle})
       |SELECT b.qid, count(i.nid) AS n_hits,
       |  CAST(count(i.nid) AS DOUBLE) / 3 AS recall_at_3
       |FROM (SELECT qid, nid FROM bf WHERE rank <= 3) b
       |LEFT JOIN ivf i ON b.qid = i.qid AND b.nid = i.nid
       |GROUP BY b.qid
       |ORDER BY b.qid""".stripMargin) { (s, d) =>
    val bf = t5AnnBruteForce.run(s, d).filter(col("rank") <= 3)
      .select(col("qid"), col("nid"))
    val iv = t18AnnIvf.run(s, d)
      .select(col("qid").as("iqid"), col("nid").as("inid"))
    bf.join(iv, col("qid") === col("iqid") && col("nid") === col("inid"),
        "left")
      .groupBy("qid")
      .agg(count(col("inid")).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        (col("n_hits").cast("double") / 3).as("recall_at_3"))
      .orderBy("qid")
  }

  /** T24 — per-label embedding CENTROIDS (the k-means E-step /
    * class-prototype builder), long-form (label, dim) output. Float
    * addition is order-dependent, so a naive avg over shuffled
    * partitions is non-deterministic; summing the 1e6-scaled longs
    * instead is associative-exact (same trick as the dot products),
    * and the final double divisions are correctly rounded. One
    * explode + one (label, dim) groupBy with map-side partial agg —
    * no per-label collect, no skew cliff. */
  val t24LabelCentroids: QuerySpec = QuerySpec.sql(
    "t24_label_centroids",
    s"""WITH e AS (SELECT label, i AS dim, ${scaledSql("embedding[i+1]")} AS v
       |           FROM embeddings, range(0, 64) t(i)),
       |g AS (SELECT label, dim, SUM(v) AS sv, COUNT(*) AS n_vecs
       |      FROM e GROUP BY 1, 2)
       |SELECT label, dim, CAST(sv AS DOUBLE) / 1e6 / n_vecs AS centroid, n_vecs
       |FROM g ORDER BY label, dim""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"),
        posexplode(scaleL(col("embedding"))).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum("v").as("sv"), count(lit(1)).as("n_vecs"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        (col("sv").cast("double") / 1e6 / col("n_vecs")).as("centroid"),
        col("n_vecs"))
      .orderBy("label", "dim")
  }

  /** T25 — k-means, two Lloyd iterations from the first-k seed
    * ([[graft.ops.KMeans]]): E-step distances are exact long integers
    * over the 1e6 grid and the M-step RE-QUANTIZES each mean back to
    * it, so both engines run identical integer arithmetic — the only
    * float op is one correctly-rounded division per (cid, dim) per
    * iteration. The oracle unrolls the same two iterations as long-form
    * (cid, dim) CTEs. */
  private[graft] val LloydK = 8
  private[graft] val LloydIters = 2

  /** DuckDB CTE chain for the t25 Lloyd run — `v` (vec_id, dim, x
    * scaled longs), `c0` first-k seed, two unrolled iterations, and
    * the final assignment `a3` (vec_id, cid, distq, rn; rn = 1 is the
    * argmin). Shared verbatim by the t25 gate and t57's SemDeDup
    * oracle so the two rows can never train different models. */
  private def lloydCtesSqlAt(k: Int): String = lloydCtesSqlAt(k.toString)

  /** The scaled per-dim vector table every Lloyd oracle shares. */
  private val LloydVSql: String =
    s"""v AS (SELECT vec_id, i AS dim, ${scaledSql("embedding[i+1]")} AS x
       |  FROM embeddings, range(0, 64) t(i))""".stripMargin

  /** One Lloyd chain (first-k seed, two unrolled iterations, final
    * assignment ranking) over the shared `v`, every CTE name carrying
    * `pre` so two chains can coexist in one oracle — t65 composes a
    * coarse ("" → `a3`/`c2`) and a fine ("f" → `fa3`/`fc2`) chain. */
  private def lloydChainSql(kSql: String, pre: String): String = {
    def rndSql(d: String): String = graft.functions.ExactNum.rndSql(d)
    def iterSql(i: Int): String = {
      val p = s"${pre}c${i - 1}"
      s"""${pre}d$i AS (SELECT v.vec_id, p.cid, SUM((v.x - p.c) * (v.x - p.c)) AS distq
         |  FROM v JOIN $p p ON v.dim = p.dim GROUP BY 1, 2),
         |${pre}a$i AS (SELECT vec_id, cid, distq, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id ORDER BY distq, cid) AS rn FROM ${pre}d$i),
         |${pre}m$i AS (SELECT a.cid, v.dim, SUM(v.x) AS sv, COUNT(*) AS n
         |  FROM ${pre}a$i a JOIN v ON a.vec_id = v.vec_id AND a.rn = 1
         |  GROUP BY 1, 2),
         |${pre}c$i AS (SELECT p.cid, p.dim,
         |    COALESCE(${rndSql("(CAST(sv AS DOUBLE) / n)")}, p.c) AS c
         |  FROM $p p LEFT JOIN ${pre}m$i USING (cid, dim))""".stripMargin
    }
    s"""${pre}c0 AS (SELECT vec_id AS cid, dim, x AS c FROM v WHERE vec_id < ($kSql)),
       |${iterSql(1)},
       |${iterSql(2)},
       |${pre}d3 AS (SELECT v.vec_id, p.cid, SUM((v.x - p.c) * (v.x - p.c)) AS distq
       |  FROM v JOIN ${pre}c2 p ON v.dim = p.dim GROUP BY 1, 2),
       |${pre}a3 AS (SELECT vec_id, cid, distq, ROW_NUMBER() OVER (
       |    PARTITION BY vec_id ORDER BY distq, cid) AS rn FROM ${pre}d3)"""
      .stripMargin
  }

  /** As above with the seed-count k as a SQL expression — t57c passes
    * a scalar subquery so the oracle's k tracks corpus size exactly
    * like the Spark side's computed k. */
  private def lloydCtesSqlAt(kSql: String): String =
    s"$LloydVSql,\n${lloydChainSql(kSql, "")}"

  private lazy val LloydCtesSql: String = lloydCtesSqlAt(LloydK)

  val t25KmeansAssign: QuerySpec =
    QuerySpec.sql(
      "t25_kmeans_assign",
      s"""WITH $LloydCtesSql
         |SELECT vec_id, cid AS cluster, CAST(distq AS BIGINT) AS distq
         |FROM a3 WHERE rn = 1
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), scaleL(col("embedding")).as("eL"))
      graft.ops.KMeans.fit(emb, LloydK, LloydIters)
        .select(col("vec_id"), col("cid").as("cluster"), col("distq"))
        .orderBy("vec_id")
    }

  /** SemDeDup cosine threshold — the engine's standing semantic
    * near-dup cut (t11/t26/t35 use the same 0.35 on these synthetic
    * embeddings). */
  private[queries] val SemDedupCos = 0.35

  /** Salt buckets for the t57 within-cluster pair join — spreads each
    * cluster's pair block over this many extra partitions (join key
    * (cid, salt) instead of cid alone, whose cardinality k otherwise
    * CAPS parallelism at k tasks). */
  private[queries] val SemDedupSalt = 32

  /** T57 — SEMDEDUP (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): k-means
    * partitions the embedding space (riding the SAME quantized Lloyd
    * run the t25 gate pins), cosine pairs are computed ONLY within a
    * cluster, and of each within-cluster duplicate set one
    * representative survives. Output: one row per vector with its
    * cluster, the earlier vector that pruned it (if any), and `keep`.
    *
    * This is the scalable complement to t11/t26's sign-bit-LSH
    * near-dup: the paper's point is that pairwise cost drops from N²
    * to Σ(N/k)² and the cluster count k is the scale knob — at 100 TB
    * k grows ∝ N so per-cluster membership (and hence the pairwise
    * block) stays bounded, where a fixed 6-bit LSH bucket space
    * saturates (t10's measured failure mode). Keeper rule here is
    * deterministic lowest-vec_id (the a5 first-seen convention; the
    * paper keeps a random/centroid-far member — any single-survivor
    * rule gives the same dedup rate). Exactness: distances and dot
    * products are 1e6-grid integer arithmetic end to end, so cluster
    * assignment AND cosine agree bit-for-bit with the oracle. */
  val t57SemDedup: QuerySpec = semDedupAt("t57_semdedup", LloydK)

  /** The k-knob at ×100: k=64 keeps the SAME semantics (the oracle is
    * the same Lloyd chain seeded with the first 64 vectors) while
    * cutting per-cluster membership — and hence the pairwise block —
    * 8×. This row IS the paper's scale mechanism made measurable:
    * compare its ×100 cost against t57's fixed-k point. */
  private[queries] val SemDedupKScale = 64

  val t57bSemDedupScale: QuerySpec =
    semDedupAt("t57b_semdedup_scale", SemDedupKScale)

  /** Per-cluster membership target for the PRODUCTION k knob: k =
    * max([[LloydK]], ⌈N / target⌉), so expected cluster size — and
    * with it each cluster's pairwise block, the operator's only
    * superlinear term — stays a CONSTANT as the corpus grows. This is
    * the paper's k ∝ N operating point made executable instead of
    * documented: t57 (fixed k=8) and t57b (fixed k=64) pin the
    * semantics at two k values; t57c computes k from the corpus the
    * way a deployment would. */
  private[graft] val SemDedupTarget = 32

  /** T57c — SEMDEDUP AT THE PRODUCTION OPERATING POINT: identical
    * semantics to t57 (same Lloyd chain, same keeper rule, same
    * cosine cut) with k derived from corpus size. The Spark side
    * counts the corpus once (a model-sized stat, like AQE's runtime
    * statistics); the oracle computes the SAME k as a scalar subquery,
    * so the two engines always train the same model. Expected
    * per-cluster pair count is bounded by ~C(target, 2) regardless of
    * N — the ×100 record measures the realized bound. */
  val t57cSemDedupProd: QuerySpec = semDedupSpec(
    "t57c_semdedup_prod",
    s"(SELECT GREATEST($LloydK, CAST(CEIL(COUNT(*) / $SemDedupTarget.0) AS BIGINT)) FROM embeddings)",
    (s, d) => {
      val n = Tables.embeddings(s, d).count()
      math.max(LloydK, math.ceil(n.toDouble / SemDedupTarget).toInt)
    })

  /** T57D — D4 PROTOTYPICALITY PRUNE (Tirumala et al. 2023: SemDeDup
    * then DIVERSIFY by dropping each cluster's most prototypical
    * members — the docs closest to their cluster centroid are
    * near-template redundancy even when no pair crosses the cosine
    * cut). Same Lloyd model as t25/t57 (one chain, shared oracle
    * CTEs); per member the squared distance to the cluster CENTROID
    * is made integer-exact by clearing the mean's denominator:
    * ‖x − s/n‖² ∝ ‖n·x − s‖² with s = the cluster's per-dim exact
    * long sums — n·x − s stays in long range for any real n, and the
    * square accumulates in 128-bit exact arithmetic (Spark
    * decimal(38,0), DuckDB HUGEINT — identical integers, identical
    * order) that never leaves the plan: the gate emits only the
    * integer per-cluster rank. proto = the closest quarter
    * (4·rnk ≤ n_cluster, t71's integer-predicate form); keep = rest.
    *
    * Scale shape: one Lloyd fit (t25's plan), cluster sums/counts are
    * k·64-row model frames (broadcast), d² is a row-local zip_with
    * against the broadcast sums. The rank window is PARTITIONED by
    * cid — shuffle-aligned but k-capped in parallelism (t57's salting
    * lesson, window form); the production remedy at fixed small k is
    * a per-cluster d²-threshold select (the t69 two-phase quantile
    * shape) instead of a total rank — or t57c's k ∝ N knob, under
    * which each cid partition is constant-sized. Documented, not
    * hidden: the gate form IS the paper's exact rank semantics. */
  val t57dD4Prototypes: QuerySpec = QuerySpec.sql(
    "t57d_d4_prototypes",
    s"""WITH $LloydCtesSql,
       |asg AS (SELECT vec_id, cid FROM a3 WHERE rn = 1),
       |nn AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_cluster
       |       FROM asg GROUP BY 1),
       |csum AS (SELECT a.cid, v.dim, CAST(SUM(v.x) AS BIGINT) AS sx
       |      FROM asg a JOIN v ON v.vec_id = a.vec_id GROUP BY 1, 2),
       |pdist AS (SELECT a.vec_id, a.cid,
       |        SUM(CAST(nn.n_cluster * v.x - csum.sx AS HUGEINT)
       |            * (nn.n_cluster * v.x - csum.sx)) AS dist2
       |       FROM asg a
       |       JOIN nn USING (cid)
       |       JOIN v ON v.vec_id = a.vec_id
       |       JOIN csum ON csum.cid = a.cid AND csum.dim = v.dim
       |       GROUP BY 1, 2),
       |prk AS (SELECT pdist.vec_id, pdist.cid,
       |        ROW_NUMBER() OVER (PARTITION BY pdist.cid
       |          ORDER BY pdist.dist2, pdist.vec_id) AS rnk,
       |        nn.n_cluster
       |      FROM pdist JOIN nn ON nn.cid = pdist.cid)
       |SELECT vec_id, cid AS cluster, CAST(rnk AS BIGINT) AS rnk,
       |  n_cluster,
       |  (4 * rnk <= n_cluster) AS proto,
       |  (4 * rnk > n_cluster) AS keep
       |FROM prk ORDER BY vec_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), scaleL(col("embedding")).as("eL"))
    val asg = graft.ops.KMeans.fit(emb, LloydK, LloydIters)
      .select(col("vec_id"), col("cid"))
      .join(emb, "vec_id")
      .localCheckpoint() // one Lloyd run feeds sums + the d² scan
    val nn = asg.groupBy("cid").agg(count(lit(1)).as("n_cluster"))
    val sums = asg
      .select(col("cid"), posexplode(col("eL")).as(Seq("dim", "x")))
      .groupBy("cid", "dim").agg(sum("x").as("sx"))
      .groupBy("cid")
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("sx")))),
        x => x.getField("sx")).as("sL"))
    // ADVICE r16: Spark decimal(38,0) overflow NULLs silently in
    // non-ANSI mode while DuckDB's HUGEINT (~1.7e38) errors — a sum in
    // the gap would silently misorder ranks. Loud row-local bound
    // instead: |n·x − s| ≤ 2·n·max|x|, so requiring max|x| ≤
    // (cap/2)/n keeps every square ≤ cap² = 1.21e36 and the 64-dim
    // sum ≤ 7.8e37 < 10^38 (and the long diff itself far from 2^63).
    // Division form so the CHECK can't overflow either.
    val DiffCap = 1100000000000000000L // 1.1e18
    val d2 = asg
      .join(broadcast(nn), "cid")
      .join(broadcast(sums), "cid")
      .withColumn("diff",
        // coalesce(max|x|, 0): an empty embedding has NULL array_max,
        // which would otherwise fall through when()'s false branch
        // into the error — a degenerate row is in-bounds, not overflow
        when(coalesce(array_max(transform(col("eL"), v => abs(v))), lit(0L))
            <= lit(DiffCap / 2) / greatest(col("n_cluster"), lit(1L)),
          zip_with(col("eL"), col("sL"), (a, b) => col("n_cluster") * a - b))
          .otherwise(raise_error(lit(
            "t57d dist2 overflow: n_cluster * max|eL| exceeds the " +
              "decimal(38,0) safety bound — rescale or shard the cluster"))))
      .withColumn("dist2",
        aggregate(col("diff"), lit(0).cast("decimal(38,0)"),
          (acc, v) => acc +
            v.cast("decimal(38,0)") * v.cast("decimal(38,0)")))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("cid").orderBy(col("dist2").asc, col("vec_id"))
    d2.withColumn("rnk", row_number().over(wr).cast("long"))
      .select(col("vec_id"), col("cid").as("cluster"), col("rnk"),
        col("n_cluster"),
        (lit(4L) * col("rnk") <= col("n_cluster")).as("proto"),
        (lit(4L) * col("rnk") > col("n_cluster")).as("keep"))
      .orderBy("vec_id")
  }

  /** Fine-centroid count for t65's two-level assignment — t57b's
    * k=64 point, so the fine model is one the gates already train. */
  private[queries] val IvfFineK = 64

  /** T65 — TWO-LEVEL (COARSE-QUANTIZER) K-MEANS ASSIGNMENT: the
    * executable form of the scale note on t57c's ×1000 boundary. A
    * flat E-step over k ∝ N centroids is itself O(N·k) — at 62.5k
    * centroids the argmin is the new quadratic term. IVF's answer,
    * applied here to assignment: train a small COARSE model (k=8, the
    * t25 chain) and a large FINE model (k=64, the t57b chain), map
    * each fine centroid to its nearest coarse cell, and serve each
    * vector by coarse argmin (8) + fine argmin within the cell
    * (~kf/kc) instead of kf flat. The rule is total and deterministic
    * — rank fine centroids by (cell match, distq, cid); a vector
    * whose cell is empty of fine centroids falls back to the global
    * argmin with `in_cell` = false. The oracle composes TWO of the
    * shared Lloyd chains (prefixes ""/"f") plus the same ranking, so
    * both engines train both models and apply the identical rule —
    * the gate pins two-level semantics, NOT flat-argmin equality
    * (cell-border vectors may legitimately differ from t57b's flat
    * assignment; that approximation is the price of boundedness,
    * exactly as in IVF probing). */
  /** One two-level-assignment gate at probe width `p` — the shared
    * oracle composes two Lloyd chains, maps fine→coarse cells, takes
    * each vector's `p` nearest coarse cells from the SAME ranked
    * frame the assignment reads (a3, rn ≤ p) and ranks fine centroids
    * by (cell ∈ probed set, distq, fcid) — exactly
    * [[graft.ops.KMeans.assignTwoLevel]]'s rule at that nprobe. */
  private def ivfAssignSpec(name: String, p: Int): QuerySpec = QuerySpec.sql(
    name,
    s"""WITH $LloydVSql,
       |${lloydChainSql(LloydK.toString, "")},
       |${lloydChainSql(IvfFineK.toString, "f")},
       |vc AS (SELECT vec_id, cid AS ccid FROM a3 WHERE rn = 1),
       |probed AS (SELECT vec_id, cid AS ccid FROM a3 WHERE rn <= $p),
       |fd AS (SELECT f.cid AS fcid, p.cid AS ccid,
       |    SUM((f.c - p.c) * (f.c - p.c)) AS dq
       |  FROM fc2 f JOIN c2 p ON f.dim = p.dim GROUP BY 1, 2),
       |fmap AS (SELECT fcid, ccid FROM (
       |    SELECT fcid, ccid, ROW_NUMBER() OVER (PARTITION BY fcid
       |      ORDER BY dq, ccid) AS rn FROM fd) WHERE rn = 1),
       |vf AS (SELECT v.vec_id, f.cid AS fcid,
       |    SUM((v.x - f.c) * (v.x - f.c)) AS distq
       |  FROM v JOIN fc2 f ON v.dim = f.dim GROUP BY 1, 2),
       |r AS (SELECT vf.vec_id, vf.fcid, vf.distq,
       |    (pr.ccid IS NOT NULL) AS in_cell,
       |    ROW_NUMBER() OVER (PARTITION BY vf.vec_id
       |      ORDER BY CASE WHEN pr.ccid IS NOT NULL THEN 0 ELSE 1 END,
       |               vf.distq, vf.fcid) AS rn
       |  FROM vf JOIN fmap USING (fcid)
       |  LEFT JOIN probed pr
       |    ON pr.vec_id = vf.vec_id AND pr.ccid = fmap.ccid)
       |SELECT r.vec_id, vc.ccid AS cell, r.fcid AS cluster,
       |  CAST(r.distq AS BIGINT) AS distq, r.in_cell
       |FROM r JOIN vc ON r.vec_id = vc.vec_id
       |WHERE rn = 1
       |ORDER BY r.vec_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), scaleL(col("embedding")).as("eL"))
      .localCheckpoint() // feeds both fits + the serve pass
    val coarse = graft.ops.KMeans.fitCentroids(emb, LloydK, LloydIters)
    val fine = graft.ops.KMeans.fitCentroids(emb, IvfFineK, LloydIters)
    graft.ops.KMeans.assignTwoLevel(emb, coarse, fine, p)
      .select(col("vec_id"), col("ccid").as("cell"),
        col("cid").as("cluster"), col("distq"), col("in_cell"))
      .orderBy("vec_id")
  }

  val t65IvfAssign: QuerySpec = ivfAssignSpec("t65_ivf_assign", 1)

  /** T65b — THE NPROBE KNOB (t65 at p = 2): probing the two nearest
    * coarse cells recovers border vectors whose true nearest fine
    * centroid sits in the adjacent cell — the documented
    * border-fidelity fix, gated with the same ROW_NUMBER oracle rule
    * so both engines apply the identical probed-set ranking. Cost
    * moves from kc + kf/kc to kc + 2·kf/kc per vector — still ~kf/p
    * cheaper than flat; AssignBench's --nprobe sweep records the
    * (p, agreement-vs-flat, serve-seconds) curve at the decade
    * points. */
  val t65bIvfProbe2: QuerySpec = ivfAssignSpec("t65b_ivf_probe2", 2)

  /** Per-cluster keep quota for t68 — small enough that the sf0.001
    * corpus (150 vectors / 8 clusters) actually truncates dominant
    * clusters, the operator's whole point. */
  private[queries] val ClusterSampleCap = 5

  /** T68 — CLUSTER-CAPPED BALANCED SAMPLING (the DataComp/DoReMi-style
    * "debias the dominant modes" selection): assign every vector to
    * its k-means cluster (the SAME quantized Lloyd run t25 pins —
    * identical model, identical argmin rule), then keep at most
    * [[ClusterSampleCap]] members per cluster, chosen in DETERMINISTIC
    * pseudo-random order (md5-prefix of vec_id, the t15 split-hash
    * family — reproducible across runs and engines, uncorrelated with
    * insertion order or embedding geometry). Small clusters survive
    * whole; dominant clusters truncate to the cap — the semantic
    * complement of t57's SemDeDup: SemDeDup removes near-IDENTICAL
    * members, cluster-capping bounds each mode's SHARE whether or not
    * its members are mutual near-dups.
    *
    * Scale shape: one Lloyd serve pass (broadcast-model E-step), one
    * hash-partitioned window over cid for (rank, size) — no pair join
    * anywhere, state per cluster is the cap constant. At 100 TB with
    * k ∝ N (the t57c/t65 knob), per-cluster membership stays bounded
    * so the window partitions do too; the all-rows output with a
    * `kept` flag (rather than a filtered sample) is the curation-
    * manifest convention — the judge of what was DROPPED rides the
    * same row set. */
  val t68ClusterSample: QuerySpec = QuerySpec.sql(
    "t68_cluster_sample",
    s"""WITH $LloydCtesSql,
       |asg AS (SELECT vec_id, cid FROM a3 WHERE rn = 1),
       |o AS (SELECT vec_id, cid,
       |        CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
       |          AS BIGINT) AS ok
       |      FROM asg),
       |r AS (SELECT vec_id, cid, ok,
       |        ROW_NUMBER() OVER (PARTITION BY cid ORDER BY ok, vec_id) AS rk,
       |        COUNT(*) OVER (PARTITION BY cid) AS csize
       |      FROM o)
       |SELECT vec_id, cid AS cluster, CAST(csize AS BIGINT) AS cluster_size,
       |  CAST(rk AS BIGINT) AS sample_rank,
       |  (rk <= $ClusterSampleCap) AS kept
       |FROM r ORDER BY vec_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), scaleL(col("embedding")).as("eL"))
    val asg = graft.ops.KMeans.fit(emb, LloydK, LloydIters)
      .select(col("vec_id"), col("cid"))
    val ok = conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy("cid").orderBy(col("ok"), col("vec_id"))
    val ws = Window.partitionBy("cid")
    asg.withColumn("ok", ok)
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .withColumn("cluster_size", count(lit(1)).over(ws))
      .select(col("vec_id"), col("cid").as("cluster"), col("cluster_size"),
        col("sample_rank"),
        (col("sample_rank") <= ClusterSampleCap).as("kept"))
      .orderBy("vec_id")
  }

  private def semDedupAt(name: String, k: Int): QuerySpec =
    semDedupSpec(name, k.toString, (_, _) => k)

  /** `kSql` must evaluate (as a DuckDB scalar) to the same k the
    * Spark side's `kOf` computes — the two parameterize one model. */
  private def semDedupSpec(name: String, kSql: String,
      kOf: (SparkSession, String) => Int): QuerySpec = QuerySpec.sql(
    name,
    s"""WITH ${lloydCtesSqlAt(kSql)},
       |asg AS (SELECT vec_id, cid FROM a3 WHERE rn = 1),
       |ssq AS (SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) / 1e12 AS ss
       |        FROM v GROUP BY 1),
       |pr AS (SELECT a.vec_id AS d1, b.vec_id AS d2
       |       FROM asg a JOIN asg b
       |         ON a.cid = b.cid AND a.vec_id < b.vec_id),
       |dots AS (SELECT p.d1, p.d2,
       |          CAST(SUM(v1.x * v2.x) AS DOUBLE) / 1e12 AS dot
       |         FROM pr p
       |         JOIN v v1 ON v1.vec_id = p.d1
       |         JOIN v v2 ON v2.vec_id = p.d2 AND v2.dim = v1.dim
       |         GROUP BY 1, 2),
       |dup AS (SELECT d.d2 AS vec_id, MIN(d.d1) AS pruned_by
       |        FROM dots d
       |        JOIN ssq a ON d.d1 = a.vec_id
       |        JOIN ssq b ON d.d2 = b.vec_id
       |        WHERE d.dot / (sqrt(a.ss) * sqrt(b.ss)) >= $SemDedupCos
       |        GROUP BY 1)
       |SELECT asg.vec_id, asg.cid AS cluster, dup.pruned_by,
       |  (dup.pruned_by IS NULL) AS keep
       |FROM asg LEFT JOIN dup USING (vec_id)
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    val k = kOf(s, d)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), scaleL(col("embedding")).as("eL"))
    val b = graft.ops.KMeans.fit(emb, k, LloydIters)
      .select(col("vec_id"), col("cid"))
      .join(emb, "vec_id")
      .withColumn("ss", normSqL(col("eL")))
      .localCheckpoint() // one Lloyd run feeds both pair sides + output
    // The pair join's natural key is cid alone — k distinct values, so
    // parallelism would be CAPPED AT k however many cores the cluster
    // has (measured: the ×100 sweep flatlined at ~k busy cores). The
    // SaltedJoin treatment fixes it: the probe side takes a
    // deterministic vec_id-hash salt, the build side replicates
    // ×[[SemDedupSalt]], and the join key becomes (cid, salt) — k·S
    // partitions, same output by construction.
    val xs = b.withColumn("_salt",
      explode(sequence(lit(0), lit(SemDedupSalt - 1))))
    val ys = b.withColumn("_salt",
      pmod(hash(col("vec_id")), lit(SemDedupSalt)))
    val dup = xs.as("x")
      .join(ys.as("y"),
        col("x.cid") === col("y.cid") &&
          col("x._salt") === col("y._salt") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(dotL(col("x.eL"), col("y.eL")) /
        (sqrt(col("x.ss")) * sqrt(col("y.ss"))) >= SemDedupCos)
      .groupBy(col("y.vec_id").as("vec_id"))
      .agg(min(col("x.vec_id")).as("pruned_by"))
    b.select(col("vec_id"), col("cid").as("cluster"))
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("pruned_by"),
        col("pruned_by").isNull.as("keep"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------
  // Product quantization (t44/t45) — the billion-vector memory play:
  // 64 float dims (256 B) compress to M=4 one-byte codes by splitting
  // each vector into M subspaces and k-means-coding each independently
  // (Jégou et al., "Product Quantization for Nearest Neighbor
  // Search"). Query time never decompresses: an Asymmetric Distance
  // Computation (ADC) table of query-to-centroid distances (M·k
  // entries per query) is broadcast, and each candidate's distance is
  // M lookups + adds — scan-local, shuffle-free until the final
  // top-k. Everything rides the t25 integer discipline: subvector
  // distances are exact longs on the 1e6 grid, codebooks come from
  // the same quantized Lloyd ([[graft.ops.KMeans]], one fit per
  // subspace), so oracle parity is by construction.

  private val PqM = 4 // subspaces
  private val PqSub = 16 // dims per subspace
  private val PqK = 8 // centroids per subspace codebook
  private val PqIters = 2 // Lloyd rounds (t25's depth)
  private val PqNq = 10 // ADC query set: vec_id < 10 (t5's set)

  /** Scaled embeddings (vec_id, eL) — the PQ input frame. */
  private def embL(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), scaleL(col("embedding")).as("eL"))

  /** Train the M per-subspace codebooks → (sub, cid, cL) in ONE
    * grouped Lloyd run ([[graft.ops.KMeans.fitCentroidsGrouped]] —
    * the `sub` key rides every stage, so M codebooks cost the
    * per-round jobs of one). The result is M·k rows —
    * broadcast-sized at ANY corpus scale (a codebook is a model, not
    * data) — and MEMOIZED per corpus version like the cluster frames:
    * production trains once per corpus, every encode/ADC consumer
    * reuses; the fingerprint key invalidates on any rewrite of the
    * backing parquet. */
  private val pqCodebookMemo =
    new Clustering.Memo[(SparkSession, String)]

  private def pqCodebook(s: SparkSession, d: String,
      emb: DataFrame): DataFrame =
    pqCodebookMemo.reuse((s, d), Clustering.fingerprint(d, "embeddings")) {
      pqCodebookMemo.record(
        (s, d), Clustering.fingerprint(d, "embeddings"),
        graft.ops.KMeans.fitCentroidsGrouped(
          pqSubvecs(emb).withColumnRenamed("sv", "eL"), PqK, PqIters)
          .localCheckpoint())
    }

  // Standing PQ codes (r21 — the standingGraph/pqCodebook discipline
  // one artifact further): production encodes the corpus ONCE at
  // curation time and every ADC consumer reads the resident codes
  // (FAISS IVFADC / DiskANN both deploy this way); before r21 each of
  // t45/t46/t47/t87 re-encoded the full corpus per call. The BUILDER
  // gate t44 (its output IS the code table) always rebuilds and
  // re-records, so its bench number stays honest; composers reuse the
  // recorded checkpoint. Keys carry the embeddings fingerprint —
  // in-process rewrites rebuild, never serve stale.
  private val pqEncMemo = new Clustering.Memo[(SparkSession, String)]
  private val pqPackedMemo = new Clustering.Memo[(SparkSession, String)]

  /** Fresh full-corpus encode, recorded — the t44 builder entry. */
  private def pqEncRecord(s: SparkSession, d: String,
      emb: DataFrame): DataFrame =
    pqEncMemo.record((s, d), embStamp(d),
      pqEncode(emb, pqCodebook(s, d, emb)).localCheckpoint())

  /** The composing-gate entry for the long-form codes. */
  private def pqEncReused(s: SparkSession, d: String,
      emb: => DataFrame): DataFrame =
    pqEncMemo.reuse((s, d), embStamp(d))(pqEncRecord(s, d, emb))

  /** The packed (vec_id, codes) resident form, memoized the same way
    * (same artifact, serve-side representation). */
  private def pqPackedReused(s: SparkSession, d: String,
      emb: => DataFrame): DataFrame =
    pqPackedMemo.reuse((s, d), embStamp(d)) {
      pqPackedMemo.record((s, d), embStamp(d),
        pqPacked(pqEncReused(s, d, emb)).localCheckpoint())
    }

  /** (vec_id, sub, sv): each vector split into its M subvectors —
    * row-local `slice`, no shuffle. */
  private def pqSubvecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      posexplode(array((0 until PqM).map(sub =>
        slice(col("eL"), sub * PqSub + 1, PqSub)): _*)).as(Seq("sub", "sv")))

  /** Encode: nearest codebook centroid per (vector, subspace) →
    * (vec_id, sub, code, dq). Broadcast codebook against the subvector
    * scan; argmin via lexicographic struct-min (distance, then cid) —
    * map-side partial agg, no window. */
  private def pqEncode(emb: DataFrame, cb: DataFrame): DataFrame =
    pqSubvecs(emb).join(broadcast(cb), "sub")
      .select(col("vec_id"), col("sub"), col("cid"),
        graft.ops.KMeans.distq(col("sv"), col("cL")).as("dq"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dq"), col("cid"))).as("__b"))
      .select(col("vec_id"), col("sub"),
        col("__b.cid").as("code"), col("__b.dq").as("dq"))

  /** Test seam (PqSpec): ADC distance of each query vector to its OWN
    * code word, via the same codebook/encode/lookup path as t45. The
    * asymmetric-distance identity says this EQUALS t44's qerr — each
    * term is by definition the query's own subspace quantization
    * error. */
  private[queries] def pqSelfAdc(s: SparkSession, d: String): DataFrame = {
    val emb = embL(s, d)
    val cb = pqCodebook(s, d, emb)
    val q = emb.filter(col("vec_id") < PqNq)
    val lut = pqSubvecs(q).withColumnRenamed("vec_id", "qid")
      .join(broadcast(cb), "sub")
      .select(col("qid"), col("sub"), col("cid"),
        graft.ops.KMeans.distq(col("sv"), col("cL")).as("ldist"))
    val enc = pqEncode(q, cb)
    enc.join(broadcast(lut),
        enc("vec_id") === lut("qid") && enc("sub") === lut("sub") &&
          enc("code") === lut("cid"))
      .groupBy(col("qid"))
      .agg(sum("ldist").as("adist"))
  }

  /** Oracle CTE chain shared by t44/t45: long-form (vec_id, sub, dim,
    * x) vectors, per-subspace first-k seeds, [[PqIters]] unrolled
    * Lloyd rounds (dims partition the subspaces, so `v.dim = p.dim`
    * already matches sub), and the final per-subspace assignment
    * `enc`. Mirrors t25's CTEs with `sub` added to every key. */
  private def pqCtesSql: String = pqCtesSqlPfx("")

  /** [[pqCtesSql]] with every CTE name prefixed — so the PQ chain can
    * compose into an oracle that ALREADY uses the graph chain's names
    * (t87: the build CTEs claim d1/d2/c0 etc.). `pfx = ""` is the
    * byte-identical t44/t45 text. */
  private def pqCtesSqlPfx(z: String): String = {
    def rndSql(d: String): String = graft.functions.ExactNum.rndSql(d)
    def iterSql(i: Int): String = {
      val p = s"${z}c${i - 1}"
      s"""${z}d$i AS (SELECT v.vec_id, p.sub, p.cid,
         |    SUM((v.x - p.c) * (v.x - p.c)) AS distq
         |  FROM ${z}v v JOIN $p p ON v.dim = p.dim GROUP BY 1, 2, 3),
         |${z}a$i AS (SELECT vec_id, sub, cid, distq, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id, sub ORDER BY distq, cid) AS rn FROM ${z}d$i),
         |${z}m$i AS (SELECT a.sub, a.cid, v.dim, SUM(v.x) AS sv, COUNT(*) AS n
         |  FROM ${z}a$i a JOIN ${z}v v ON a.vec_id = v.vec_id AND a.sub = v.sub
         |    AND a.rn = 1
         |  GROUP BY 1, 2, 3),
         |${z}c$i AS (SELECT p.sub, p.cid, p.dim,
         |    COALESCE(${rndSql("(CAST(sv AS DOUBLE) / n)")}, p.c) AS c
         |  FROM $p p LEFT JOIN ${z}m$i USING (sub, cid, dim))""".stripMargin
    }
    val f = PqIters + 1
    s"""${z}v AS (SELECT vec_id, i // $PqSub AS sub, i AS dim,
       |    ${scaledSql("embedding[i+1]")} AS x
       |  FROM embeddings, range(0, 64) t(i)),
       |${z}c0 AS (SELECT sub, vec_id AS cid, dim, x AS c FROM ${z}v
       |  WHERE vec_id < $PqK),
       |${(1 to PqIters).map(iterSql).mkString(",\n")},
       |${z}d$f AS (SELECT v.vec_id, p.sub, p.cid,
       |    SUM((v.x - p.c) * (v.x - p.c)) AS distq
       |  FROM ${z}v v JOIN ${z}c$PqIters p ON v.dim = p.dim GROUP BY 1, 2, 3),
       |${z}a$f AS (SELECT vec_id, sub, cid, distq, ROW_NUMBER() OVER (
       |    PARTITION BY vec_id, sub ORDER BY distq, cid) AS rn FROM ${z}d$f),
       |${z}enc AS (SELECT vec_id, sub, cid, distq FROM ${z}a$f WHERE rn = 1)"""
      .stripMargin
  }

  /** T44 — PQ ENCODE: per-vector code word (M centroid ids, ordered
    * by subspace) plus the exact total quantization error on the long
    * grid. The 64×-compression artifact every ADC scan reads. The
    * code word is serialized comma-joined (f15 convention) because
    * the driver's pandas checker cannot sort array cells. */
  val t44PqEncode: QuerySpec = QuerySpec.sql(
    "t44_pq_encode",
    s"""WITH $pqCtesSql
       |SELECT vec_id, array_to_string(list(cid ORDER BY sub), ',') AS codes,
       |  CAST(SUM(distq) AS BIGINT) AS qerr
       |FROM enc GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, d) =>
    val emb = embL(s, d)
    pqEncRecord(s, d, emb) // t44 IS the builder: always rebuild+record
      .groupBy("vec_id")
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("sub"), col("code")))),
          t => t.getField("code")).cast("array<string>"), ",").as("codes"),
        sum("dq").as("qerr"))
      .orderBy("vec_id")
  }

  /** T45 — PQ ADC top-3: for each query, one broadcast M·k lookup
    * table of exact subvector-to-centroid distances; every candidate's
    * approximate distance is then M table lookups + adds over its
    * CODES — the corpus vectors themselves are never touched at query
    * time. Self-matches excluded like t5; ties by (adist, nid). */
  val t45PqAdcTopk: QuerySpec = QuerySpec.sql(
    "t45_pq_adc_topk",
    s"""WITH $pqCtesSql,
       |lut AS (SELECT q.vec_id AS qid, c.sub, c.cid,
       |    SUM((q.x - c.c) * (q.x - c.c)) AS ldist
       |  FROM v q JOIN c$PqIters c ON q.dim = c.dim
       |  WHERE q.vec_id < $PqNq GROUP BY 1, 2, 3),
       |ad AS (SELECT l.qid, e.vec_id AS nid, CAST(SUM(l.ldist) AS BIGINT) AS adist
       |  FROM enc e JOIN lut l ON e.sub = l.sub AND e.cid = l.cid
       |  WHERE e.vec_id <> l.qid GROUP BY 1, 2),
       |ranked AS (SELECT qid, nid, adist, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY adist, nid) AS rank FROM ad)
       |SELECT qid, rank, nid, adist FROM ranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val emb = embL(s, d)
    val cb = pqCodebook(s, d, emb)
    val lut = pqSubvecs(emb.filter(col("vec_id") < PqNq))
      .withColumnRenamed("vec_id", "qid")
      .join(broadcast(cb), "sub")
      .select(col("qid"), col("sub"), col("cid"),
        graft.ops.KMeans.distq(col("sv"), col("cL")).as("ldist"))
    val enc = pqEncReused(s, d, emb) // standing codes (t44's artifact)
    val ad = enc
      .join(broadcast(lut),
        enc("sub") === lut("sub") && enc("code") === lut("cid"))
      .filter(enc("vec_id") =!= lut("qid"))
      .groupBy(lut("qid"), enc("vec_id"))
      .agg(sum("ldist").as("adist"))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    ad.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id").as("nid"), col("adist"))
      .orderBy("qid", "rank")
  }

  /** T46 — IVF-PQ: the two scale mechanisms COMPOSED, which is the
    * shape a real 100 TB vector store runs (FAISS's IVFADC): the
    * coarse quantizer prunes the corpus to `IvfProbes` inverted lists
    * per query (sublinear candidate set, t18's machinery verbatim),
    * and within the probed lists candidates are scored by ADC over
    * their PQ codes (t45's broadcast lookup table) — the full-width
    * vectors are touched by NEITHER stage at query time. Memory story:
    * lists store 4-byte codes, not 256-byte vectors; compute story:
    * per candidate, 4 lookups + adds after a per-query M·k table
    * build. Ties by (adist, nid); `cid` rides along as the probed
    * list, like t18. */
  /** Shared t46/t47 oracle CTE chain: norms, coarse IVF prune, PQ
    * codes, the per-query ADC lookup table, candidate ADC distances,
    * and their per-query ranking — everything up to "which candidates
    * did IVF-PQ surface, in what ADC order". */
  private def ivfPqCtesSql: String =
    s"""sq AS ($NormsSql),
       |${ivfCoarseCtesSql(IvfCentroids, IvfProbes)},
       |$pqCtesSql,
       |lut AS (SELECT q.vec_id AS qid, c.sub, c.cid,
       |    SUM((q.x - c.c) * (q.x - c.c)) AS ldist
       |  FROM v q JOIN c$PqIters c ON q.dim = c.dim
       |  WHERE q.vec_id < $PqNq GROUP BY 1, 2, 3),
       |ad AS (SELECT cand.qid, cand.nid, cand.cid,
       |    CAST(SUM(l.ldist) AS BIGINT) AS adist
       |  FROM cand JOIN enc e ON cand.nid = e.vec_id
       |    JOIN lut l ON l.qid = cand.qid AND l.sub = e.sub AND l.cid = e.cid
       |  GROUP BY 1, 2, 3),
       |ranked AS (SELECT qid, nid, cid, adist, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY adist, nid) AS rank FROM ad)"""
      .stripMargin

  /** Spark twin of [[ivfPqCtesSql]]'s `ranked`: every IVF-PQ candidate
    * with its ADC distance and per-query ADC rank. Shared by t46
    * (top-3 as-is) and t47 (top-[[RefineR]] re-scored exactly). */
  private def ivfPqRanked(s: SparkSession, d: String): DataFrame = {
    val emb = embScaled(s, d).localCheckpoint()
    val rankedVc = ivfRanked(emb, IvfCentroids).localCheckpoint()
    val assign = rankedVc.filter(col("crn") === 1).select("vec_id", "cid")
    val probes = rankedVc
      .filter(col("crn") <= IvfProbes && col("vec_id") < PqNq)
      .select(col("vec_id").as("qid"), col("cid"))
    val cand = probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("cid"))
    val eL = emb.select(col("vec_id"), col("eL"))
    val cb = pqCodebook(s, d, eL)
    // standing codes (t44's artifact); explicit renames — the reused
    // checkpoint's column objects would otherwise be ambiguous between
    // consumers in one session
    val encR = pqEncReused(s, d, eL)
      .select(col("vec_id").as("nid"), col("sub").as("esub"),
        col("code").as("ecode"))
    val lut = pqSubvecs(eL.filter(col("vec_id") < PqNq))
      .withColumnRenamed("vec_id", "qid")
      .join(broadcast(cb), "sub")
      .select(col("qid").as("lqid"), col("sub").as("lsub"),
        col("cid").as("lcid"),
        graft.ops.KMeans.distq(col("sv"), col("cL")).as("ldist"))
    val ad = cand
      .join(encR, "nid")
      .join(broadcast(lut),
        col("qid") === col("lqid") && col("esub") === col("lsub") &&
          col("ecode") === col("lcid"))
      .groupBy(col("qid"), col("nid"), col("cid"))
      .agg(sum("ldist").as("adist"))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("nid"))
    ad.withColumn("rank", row_number().over(w).cast("long"))
  }

  val t46IvfPq: QuerySpec = QuerySpec.sql(
    "t46_ivf_pq",
    s"""WITH $ivfPqCtesSql
       |SELECT qid, rank, nid, cid, adist FROM ranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    ivfPqRanked(s, d)
      .filter(col("rank") <= 3)
      .select("qid", "rank", "nid", "cid", "adist")
      .orderBy("qid", "rank")
  }

  /** Candidates the refine stage re-scores per query (FAISS
    * `k_factor`): ADC keeps its top `RefineR`, exact distance re-ranks
    * within them. */
  private[queries] val RefineR = 10

  /** T47 — IVF-PQ + EXACT REFINE (FAISS's `IndexRefineFlat`): ADC
    * distances are biased by quantization, so real vector stores
    * re-score a short ADC shortlist with EXACT distances before
    * serving. The coarse+ADC stages never touch full vectors; the
    * refine stage fetches exactly `RefineR` full vectors per query —
    * a per-query CONSTANT, so at 100 TB the full-width reads stay
    * O(queries), not O(corpus), while recall recovers toward
    * brute-force truth (the bias shows up as rank churn between
    * `rank_adc` and the final exact rank — visibly nonzero on this
    * corpus, which is the point of the stage).
    *
    * Scale shape: the shortlist (queries × RefineR rows) joins the
    * corpus by id — broadcast-sized by construction on the shortlist
    * side; the exact math is the shared pre-scaled long cosine, so
    * the refine verdict is bit-identical across engines. */
  val t47IvfPqRefine: QuerySpec = QuerySpec.sql(
    "t47_ivf_pq_refine",
    s"""WITH $ivfPqCtesSql,
       |keep AS (SELECT qid, nid, cid, adist, rank AS rank_adc FROM ranked
       |  WHERE rank <= $RefineR),
       |rprod AS (
       |  SELECT k.qid, k.nid, k.cid, k.adist, k.rank_adc,
       |    ${prodLSql("x.embedding[i+1]", "y.embedding[i+1]")} AS pr
       |  FROM keep k JOIN embeddings x ON k.qid = x.vec_id
       |    JOIN embeddings y ON k.nid = y.vec_id, range(0, 64) t(i)
       |),
       |rcos AS (
       |  SELECT r.qid, r.nid, r.cid, r.adist, r.rank_adc,
       |    (CAST(SUM(pr) AS DOUBLE) / 1e12) / (sqrt(a.ss) * sqrt(b.ss)) AS cosine
       |  FROM rprod r JOIN sq a ON r.qid = a.vec_id
       |    JOIN sq b ON r.nid = b.vec_id
       |  GROUP BY r.qid, r.nid, r.cid, r.adist, r.rank_adc, a.ss, b.ss
       |),
       |rranked AS (SELECT qid, nid, cid, adist, rank_adc, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC, nid) AS rank
       |  FROM rcos)
       |SELECT qid, rank, nid, cid, rank_adc, adist, cosine
       |FROM rranked WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    val emb = embScaled(s, d)
    val keep = ivfPqRanked(s, d)
      .filter(col("rank") <= RefineR)
      .select(col("qid"), col("nid"), col("cid"), col("adist"),
        col("rank").as("rank_adc"))
    val cos = broadcast(keep)
      .join(emb.select(col("vec_id").as("qid"), col("eL").as("qL"),
        col("ss").as("ss_a")), "qid")
      .join(emb.select(col("vec_id").as("nid"), col("eL").as("nL"),
        col("ss").as("ss_b")), "nid")
      .select(col("qid"), col("nid"), col("cid"), col("adist"),
        col("rank_adc"),
        (dotL(col("qL"), col("nL")) / (sqrt(col("ss_a")) * sqrt(col("ss_b"))))
          .as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
    cos.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("qid", "rank", "nid", "cid", "rank_adc", "adist", "cosine")
      .orderBy("qid", "rank")
  }

  // ---- T87: PQ-RESIDENT graph serve (ADC beam, exact final rerank) ----

  /** PACK the long-form encode rows to ONE row per vector —
    * (vec_id, codes), codes ordered by subspace. The resident serve
    * artifact: the long form carries ~90 B of row overhead per
    * (vec_id, sub, code) row (measured ×7 the packed footprint at
    * ×10); the walk's ADC stage re-derives (sub, code) pairs with a
    * transient posexplode, so residency pays [[PqM]] ints per vector
    * and nothing else. */
  private def pqPacked(enc: DataFrame): DataFrame =
    enc.groupBy("vec_id")
      .agg(transform(
        sort_array(collect_list(struct(col("sub"), col("code")))),
        t => t.getField("code")).as("codes"))

  /** The PQ-resident serve walk — [[knnServeVecs]]'s recurrence with
    * the beam rounds scored by ASYMMETRIC DISTANCE (each candidate =
    * [[PqM]] code lookups against the query's broadcast LUT — the
    * corpus VECTORS are never touched during the walk) and only the
    * FINAL beam exact-rescored (long-dot cosine, t47's refine
    * pattern). This is DiskANN's actual deployment design (Subramanya
    * et al. NeurIPS'19 §3: PQ codes resident in memory, full vectors
    * on disk read only for the final rerank) and the engine's answer
    * ABOVE [[VecBroadcastMaxRows]]: full vectors at 2 M rows are a
    * ~1.2 GB broadcast and a >220 GB sort-merge spill beyond the
    * bound (the measured ×1000 ENOSPC), while the codes frame is
    * [[PqM]] small ints per vector — broadcastable at ANY realistic
    * corpus — and the exact fetch happens once, for beam-width rows
    * per query. `enc` = (vec_id, codes) PACKED resident codes
    * ([[pqPacked]]), `lut` = (qid, sub, cid, ldist) per-query tables;
    * walk/routing/release semantics exactly as [[knnServeVecs]]. */
  private def knnServePqVecs(e: DataFrame, edges: DataFrame,
      enc: DataFrame, lut: DataFrame,
      qvecs: DataFrame, entries: DataFrame,
      beam: Int, rounds: Int, k: Int,
      materialize: Boolean = false,
      routed: Option[DataFrame] = None,
      corpusRows: Option[Long] = None): DataFrame = {
    val sym = edges.select(col("qid").as("src"), col("nid").as("dst"))
      .union(edges.select(col("nid").as("src"), col("qid").as("dst")))
      .localCheckpoint() // consumed once per round
    val q = qvecs.select(col("qid"), col("qL"), col("qss"))
      .localCheckpoint()
    // PACKED per-query LUT (r21, VERDICT r20 item 3): one row per qid,
    // larr = the M·k ldists in (sub, cid)-major order, so a candidate's
    // ADC distance is `long_lut_sum(codes, larr, k)` — M array reads +
    // adds inside whole-stage codegen ([[graft.plans.LongArrayLutSum]])
    // instead of the former posexplode (×M row blowup) → 3-key
    // broadcast join → (qid, nid) re-aggregate PER ROUND. The sum is
    // the same M longs in a fixed order — bit-identical adist.
    // Index contract: larr[sub·k + cid] = ldist requires each sub's
    // cids to be EXACTLY 0..k−1 (true by the first-k seed init over a
    // dense vec_id corpus); verified loudly on the checkpointed
    // query-set-sized frame (pigeonhole: per-sub distinct cids in
    // [0, k−1] with ncells = nsubs·k forces density) — a sparse cid
    // domain must fail, never misindex. No extra corpus job: the
    // stats ride the pack aggregation itself.
    val lutC = lut.select("qid", "sub", "cid", "ldist")
      .groupBy("qid")
      .agg(transform(sort_array(collect_list(
          struct(col("sub"), col("cid"), col("ldist")))),
        t => t.getField("ldist")).as("larr"),
        (max("cid") + 1).as("k"), min("cid").as("mincid"),
        count_distinct(col("sub")).as("nsubs"),
        count(lit(1)).as("ncells"))
      .localCheckpoint() // query-set rows: broadcast every round
    val lutMeta = lutC.select("k", "mincid", "nsubs", "ncells")
      .distinct().collect()
    require(lutMeta.length == 1 && lutMeta(0).getLong(1) == 0L &&
      lutMeta(0).getLong(3) == lutMeta(0).getLong(0) * lutMeta(0).getLong(2),
      "packed ADC LUT needs dense per-sub cids 0..k-1, identical across " +
        s"queries; got ${lutMeta.mkString(";")}")
    val kLut = lutMeta(0).getLong(0).toInt
    val nRows = corpusRows.getOrElse(e.count())
    val bcast = nRows <= VecBroadcastMaxRows
    // graph side gated on EDGE count, as in knnServeVecs (ADVICE r20)
    val bcastGraph = 2L * KnnK * nRows <= VecBroadcastMaxRows
    // ADC beam scoring: M integer lookups + adds per candidate —
    // ranks ASCENDING by approximate distance
    def adcBeam(cand: DataFrame, cut: Int): DataFrame = {
      // codes always resident (broadcast); residency stays PqM ints
      // per vector
      val s = cand
        .join(fetchSide(enc.select(col("vec_id").as("nid"),
          col("codes")), bcast = true), "nid")
        .join(broadcast(lutC), "qid")
        .select(col("qid"), col("nid"),
          call_function("long_lut_sum", col("codes"), col("larr"),
            lit(kLut)).as("adist"))
      val w = Window.partitionBy("qid").orderBy(col("adist"), col("nid"))
      s.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= cut)
    }
    // exact final rerank — knnServeVecs's scoring text, beam-sized
    def exactBeam(cand: DataFrame, cut: Int): DataFrame = {
      val s = cand.join(broadcast(q), "qid")
        .join(fetchSide(e.select(col("vec_id").as("nid"), col("eL").as("nL"),
          col("ss").as("nss")), bcast), "nid")
        .select(col("qid"), col("nid"),
          (dotL(col("qL"), col("nL")) /
            (sqrt(col("qss")) * sqrt(col("nss")))).as("cosine"))
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
      s.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= cut)
    }
    var cur = q.select("qid").crossJoin(broadcast(entries))
      .filter(col("nid") =!= col("qid"))
      .select("qid", "nid")
    routed.foreach { r =>
      cur = cur.union(r.filter(col("nid") =!= col("qid"))
        .select("qid", "nid")).distinct()
    }
    // one exchange per round (r20, guide §2.4): hash(qid) satisfies the
    // (qid, nid) distinct, the ADC projection AND the beam window; the
    // graph probe side broadcasts under the edge-count regime
    def dedupByQid(cand: DataFrame): DataFrame =
      cand.repartition(col("qid")).distinct()
    for (_ <- 1 to rounds) {
      val expand = cur.join(fetchSide(sym, bcastGraph),
        col("nid") === col("src"))
        .select(col("qid"), col("dst"))
        .filter(col("dst") =!= col("qid"))
        .select(col("qid"), col("dst").as("nid"))
      val cand = dedupByQid(cur.union(expand))
      val prev = cur
      cur = adcBeam(cand, beam).select("qid", "nid").localCheckpoint()
      Clustering.release(prev)
    }
    Clustering.release(sym)
    val out = exactBeam(cur, k)
    if (!materialize) out
    else {
      val m = out.localCheckpoint()
      Clustering.release(cur)
      Clustering.release(q)
      Clustering.release(lutC)
      m
    }
  }

  /** The [[ServeRounds]] unrolled ADC serve-round CTEs — the
    * [[serveRoundsSql]] recurrence with the per-round rerank swapped
    * for the code-lookup sum (`zenc` codes × `zlut` tables), ranked
    * ASCENDING by adist. */
  private def pqServeRoundsSql: String = (1 to ServeRounds).map { r =>
    val prev = if (r == 1) "c0" else s"pb${r - 1}"
    s"""px$r AS (SELECT qid, nid FROM $prev
       |  UNION
       |  SELECT c.qid, g.dst AS nid FROM $prev c
       |  JOIN gsym g ON c.nid = g.src
       |  WHERE g.dst <> c.qid),
       |pad$r AS (SELECT c.qid, c.nid, CAST(SUM(l.ldist) AS BIGINT) AS adist
       |  FROM px$r c JOIN zenc e2 ON c.nid = e2.vec_id
       |  JOIN zlut l ON l.qid = c.qid AND l.sub = e2.sub
       |    AND l.cid = e2.cid
       |  GROUP BY 1, 2),
       |pb$r AS MATERIALIZED (SELECT qid, nid FROM (
       |    SELECT qid, nid, ROW_NUMBER() OVER (
       |      PARTITION BY qid ORDER BY adist, nid) AS rnk FROM pad$r)
       |  WHERE rnk <= $ServeBeam)""".stripMargin
  }.mkString(",\n")

  /** T87 — PQ-RESIDENT GRAPH SERVE: the composition that takes the
    * graph family past [[VecBroadcastMaxRows]] (VERDICT r19 item 2 /
    * missing item 3). Routed entries (t85's LSH router), the graph
    * walk's beam rounds scored by PQ ASYMMETRIC DISTANCE (t45's ADC —
    * codes resident, vectors untouched), exact long-dot rerank ONLY on
    * the final beam (t47's refine) — every ingredient an existing
    * green gate, now composed the way DiskANN deploys. Oracle unrolls
    * ALL of it: the t82c dense-seed build chain, the prefixed PQ
    * codebook/encode chain ([[pqCtesSqlPfx]] — `z*` names), the
    * router CTEs, [[ServeRounds]] ADC rounds, the exact final rerank.
    * Ranks CAST to BIGINT. */
  val t87PqServe: QuerySpec = QuerySpec.sql(
    "t87_pq_serve",
    s"""WITH ${knnGraphCtesSql(12, 4, LshBucketCap, fill = true)},
       |${pqCtesSqlPfx("z")},
       |gsym AS MATERIALIZED (
       |  SELECT qid AS src, nid AS dst FROM g$KnnRounds
       |  UNION SELECT nid, qid FROM g$KnnRounds),
       |ent AS (SELECT vec_id FROM embeddings ORDER BY vec_id
       |  LIMIT $ServeEntries),
       |qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < $PqNq),
       |rq AS (SELECT DISTINCT k.vec_id AS qid, y.vec_id AS nid
       |  FROM keys k JOIN keys y ON k.tbl = y.tbl AND k.bkey = y.bkey
       |    AND y.vec_id <> k.vec_id
       |  JOIN ok o ON k.tbl = o.tbl AND k.bkey = o.bkey
       |  WHERE k.vec_id < $PqNq),
       |rcap AS (SELECT qid, nid FROM (
       |    SELECT qid, nid, ROW_NUMBER() OVER (
       |      PARTITION BY qid ORDER BY nid) AS rn FROM rq)
       |  WHERE rn <= $RouteEntries),
       |c0 AS MATERIALIZED (
       |  SELECT q.qid, e.vec_id AS nid FROM qs q, ent e
       |  WHERE e.vec_id <> q.qid
       |  UNION SELECT qid, nid FROM rcap),
       |zlut AS (SELECT q.vec_id AS qid, c.sub, c.cid,
       |    SUM((q.x - c.c) * (q.x - c.c)) AS ldist
       |  FROM zv q JOIN zc$PqIters c ON q.dim = c.dim
       |  WHERE q.vec_id < $PqNq GROUP BY 1, 2, 3),
       |$pqServeRoundsSql,
       |${knnScoreCtesSql(s"pb$ServeRounds", "fx", ServeK)}
       |SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rank, nid, cosine
       |FROM gfx WHERE rnk <= $ServeK
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val e = embCheckpointed(s, d)
    val g = standingGraphReused(s, d, 12, 4, LshBucketCap, fill = true)
    val emb = e.select(col("vec_id"), col("eL"))
    val cb = pqCodebook(s, d, emb)
    // the resident codes — t44's standing artifact, built once per
    // process per corpus fingerprint, walked often (r21)
    val enc = pqPackedReused(s, d, emb)
    val queries = e.filter(col("vec_id") < PqNq)
    val lut = pqSubvecs(queries.select(col("vec_id"), col("eL")))
      .withColumnRenamed("vec_id", "qid")
      .join(broadcast(cb), "sub")
      .select(col("qid"), col("sub"), col("cid"),
        graft.ops.KMeans.distq(col("sv"), col("cL")).as("ldist"))
    val routed = annLshEntries(e.select("vec_id", "embedding"),
      queries.select("vec_id", "embedding"), 12, 4, LshBucketCap,
      RouteEntries)
    val qvecs = queries.select(col("vec_id").as("qid"),
      col("eL").as("qL"), col("ss").as("qss"))
    val ents = e.select(col("vec_id").as("nid"))
      .orderBy("nid").limit(ServeEntries)
    val out = knnServePqVecs(e, g.select("qid", "nid"), enc, lut, qvecs,
        ents, ServeBeam, ServeRounds, ServeK, routed = Some(routed),
        corpusRows = Some(embCount(s, d)))
      .select(col("qid").as("query_id"), col("rank"), col("nid"),
        col("cosine"))
      .orderBy("query_id", "rank")
    out
  }

  /** T77 — MARGIN-BASED MINING (the LASER/CCMatrix bitext criterion,
    * Artetxe & Schwenk 2019): raw cosine over-fires in dense "hubness"
    * regions, so mined pairs are scored by the RATIO of the pair's
    * cosine to the mean of both endpoints' k-NN cosines — a pair only
    * ranks high if it is close RELATIVE to what each side usually
    * sees. Side X is the 8 even vec_ids < 16 (the mining query batch —
    * real mining runs in bounded query batches exactly like this; the
    * x-query trick makes the oracle self-contained), side Y every odd
    * vec_id; k = 4; margin(a,b) = cos(a,b) / ((avgk(a) + avgk(b))/2)
    * with b's k-NN taken over the query batch (the batch-margin
    * variant). Output: top-3 Y candidates per X query by (margin
    * desc, nid).
    *
    * Float discipline: cosines are the exact-long-dot convention
    * (bit-identical cross-engine); the k-NN means are computed by
    * PIVOTING the top-4 cosines into rank-indexed columns (1-value
    * conditional MAX — no multi-row float SUM whose order could
    * differ) and adding with fixed parenthesization, so margins are
    * bit-identical too, not merely within tolerance.
    *
    * Scale shape: the query batch broadcasts against the corpus (the
    * t5 BNLJ contract); every window is PARTITIONED (per qid / per
    * nid); the avgk(b) frame joins back nid-keyed. At 100 TB the pair
    * generator swaps for the t10b LSH candidate join with this exact
    * scoring stage unchanged — the margin is a per-candidate
    * projection + two bounded-k rollups either way. */
  val t77MarginMining: QuerySpec = {
    def avg4(c: String => String): String =
      s"(((${c("1")} + ${c("2")}) + ${c("3")}) + ${c("4")}) / 4"
    val crA = (r: String) => s"MAX(CASE WHEN r_a = $r THEN cosine END)"
    val crB = (r: String) => s"MAX(CASE WHEN r_b = $r THEN cosine END)"
    QuerySpec.sql(
      "t77_margin_mining",
      s"""WITH sq AS ($NormsSql),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id < 16 AND vec_id % 2 = 0),
         |y AS (SELECT vec_id AS nid, embedding AS ne FROM embeddings
         |      WHERE vec_id % 2 = 1),
         |prods AS (
         |  SELECT qid, nid, ${prodLSql("qe[i+1]", "ne[i+1]")} AS p
         |  FROM q, y, range(0, 64) t(i)),
         |dots AS (SELECT qid, nid, CAST(SUM(p) AS DOUBLE) / 1e12 AS dot
         |         FROM prods GROUP BY 1, 2),
         |cos AS (SELECT qid, nid, dot / (sqrt(a.ss) * sqrt(b.ss)) AS cosine
         |        FROM dots JOIN sq a ON qid = a.vec_id
         |          JOIN sq b ON nid = b.vec_id),
         |rk AS (SELECT qid, nid, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, nid) AS r_a,
         |    ROW_NUMBER() OVER (PARTITION BY nid
         |      ORDER BY cosine DESC, qid) AS r_b
         |  FROM cos),
         |ka AS (SELECT qid, ${avg4(r => crA(r))} AS avg_a
         |       FROM rk GROUP BY qid),
         |kb AS (SELECT nid, ${avg4(r => crB(r))} AS avg_b
         |       FROM rk GROUP BY nid),
         |mg AS (SELECT rk.qid, rk.nid, rk.cosine,
         |    rk.cosine / ((ka.avg_a + kb.avg_b) / 2) AS margin
         |  FROM rk JOIN ka ON rk.qid = ka.qid JOIN kb ON rk.nid = kb.nid),
         |top AS (SELECT qid, nid, cosine, margin,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY margin DESC, nid) AS rank
         |  FROM mg)
         |SELECT qid, rank, nid, cosine, margin FROM top WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val emb = embScaled(s, d)
      val q = emb.filter(col("vec_id") < 16 && col("vec_id") % 2 === 0)
        .select(col("vec_id").as("qid"), col("eL").as("qL"),
          col("ss").as("ss_a"))
      val y = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("nid"), col("eL").as("nL"),
          col("ss").as("ss_b"))
      val cos = broadcast(q).crossJoin(y)
        .select(col("qid"), col("nid"),
          (dotL(col("qL"), col("nL")) /
            (sqrt(col("ss_a")) * sqrt(col("ss_b")))).as("cosine"))
      val rk = cos
        .withColumn("r_a", row_number().over(
          Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))))
        .withColumn("r_b", row_number().over(
          Window.partitionBy("nid").orderBy(col("cosine").desc, col("qid"))))
      def cr(rankCol: String, r: Int): Column =
        max(when(col(rankCol) === r, col("cosine")))
      def avg4(cs: Seq[Column]): Column =
        (((cs(0) + cs(1)) + cs(2)) + cs(3)) / 4
      val ka = rk.groupBy("qid")
        .agg(avg4((1 to 4).map(cr("r_a", _))).as("avg_a"))
      val kb = rk.groupBy("nid")
        .agg(avg4((1 to 4).map(cr("r_b", _))).as("avg_b"))
      val mg = rk.join(broadcast(ka), "qid").join(kb, "nid")
        .select(col("qid"), col("nid"), col("cosine"),
          (col("cosine") / ((col("avg_a") + col("avg_b")) / 2)).as("margin"))
      val w = Window.partitionBy("qid").orderBy(col("margin").desc, col("nid"))
      mg.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("qid", "rank", "nid", "cosine", "margin")
        .orderBy("qid", "rank")
    }
  }

  val all: Seq[QuerySpec] =
    Seq(t5AnnBruteForce, t10AnnLshBuckets, t10bAnnLshScale, t16Quantize,
      t18AnnIvf, t20AnnRecall, t24LabelCentroids, t25KmeansAssign,
      t44PqEncode, t45PqAdcTopk, t46IvfPq, t47IvfPqRefine, t57SemDedup,
      t57bSemDedupScale, t57cSemDedupProd, t57dD4Prototypes, t65IvfAssign, t65bIvfProbe2,
      t68ClusterSample, t77MarginMining, t82KnnGraph, t82bKnnGraphScale,
      t82cKnnGraphFill, t83KnnServe, t84GraphInsert, t85RoutedServe,
      t86GraphDelete, t87PqServe, t88GraphConsolidate)
}
