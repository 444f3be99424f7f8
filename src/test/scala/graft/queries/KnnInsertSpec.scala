package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** t84 insert contracts on a HAND graph (the KnnServeSpec pattern):
  * the walk-connect-cap composition independent of the LSH/NN-Descent
  * build — the DEGREE CAP must evict a base node's worst edge when a
  * closer new vector connects (and must NOT admit a new edge worse
  * than the node's current list), untouched nodes' lists must come
  * through byte-identical, and the new vector's forward list is the
  * exact-scored walk result. */
class KnnInsertSpec extends SparkSpec {
  import spark.implicits._

  /** all-ones with the first `flips` dims flipped: cos(v(a), v(b)) =
    * (64 − 2·|a−b|)/64 — a controlled similarity ladder. */
  private def v(flips: Int): Array[Float] =
    Array.tabulate(64)(i => if (i < flips) -1.0f else 1.0f)

  private def scored(emb: org.apache.spark.sql.DataFrame) =
    emb.select(col("vec_id"), col("embedding"),
        VectorQueries.scaleL(col("embedding")).as("eL"))
      .withColumn("ss",
        call_function("long_dot", col("eL"), col("eL")).cast("double")
          / lit(1e12))

  test("back-edge degree cap: closer insert evicts, worse insert is refused") {
    // base 10=v(4), 20=v(5), 30=v(6), 40=v(20); new 5=v(3).
    // cos(5,10)=62/64, cos(5,20)=60/64, cos(5,30)=58/64, cos(5,40)=30/64
    val emb = Seq((5L, v(3)), (10L, v(4)), (20L, v(5)),
      (30L, v(6)), (40L, v(20))).toDF("vec_id", "embedding")
    val e = scored(emb).localCheckpoint()
    // hand base graph at degree cap k=2, true cosines
    val g = Seq(
      (10L, 20L, 62.0 / 64), (10L, 30L, 60.0 / 64),
      (20L, 10L, 62.0 / 64), (20L, 30L, 62.0 / 64),
      (30L, 20L, 62.0 / 64), (30L, 10L, 60.0 / 64),
      (40L, 30L, 36.0 / 64), (40L, 20L, 34.0 / 64)
    ).toDF("qid", "nid", "cosine")
    val newVecs = VectorQueries.queryVecsOf(
      emb.filter(col("vec_id") === 5L))
    // entry = the FARTHEST node (40), so the walk must actually
    // navigate the graph to find 10/20, not get them handed over
    val ents = Seq(40L).toDF("nid")
    val out = VectorQueries.graphInsert(e, g, newVecs, ents, k = 2)
      .select("qid", "rank", "nid", "cosine")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2))

    def list(q: Long) = out.filter(_._1 == q).map(x => (x._2, x._3)).toSeq
    // forward: the walk's exact top-2 for the new vector
    assert(list(5L) == Seq((1L, 10L), (2L, 20L)))
    assert(out.filter(_._1 == 5L).map(_._4).toSeq ==
      Seq(62.0 / 64, 60.0 / 64))
    // 10: new edge (cos 62/64) ties its best and EVICTS 30 (60/64);
    // the tie breaks on nid — 5 before 20
    assert(list(10L) == Seq((1L, 5L), (2L, 20L)))
    // 20: the new edge (60/64) is WORSE than both existing (62/64) —
    // the cap refuses it, list unchanged
    assert(list(20L) == Seq((1L, 10L), (2L, 30L)))
    // untouched nodes come through byte-identical
    assert(list(30L) == Seq((1L, 20L), (2L, 10L)))
    assert(list(40L) == Seq((1L, 30L), (2L, 20L)))
    // the output graph stays degree-capped everywhere
    assert(out.groupBy(_._1).forall(_._2.length <= 2))
  }

  test("ROUTED insert-edge recall floor on the random gate corpus (VERDICT r19 item 1)") {
    // the t84 split at sf0.001: base graph over vec_id ≥ 10, the t5
    // vectors inserted through the ROUTED walk; forward edges scored
    // against the base-corpus brute truth. Random embeddings are the
    // documented EASY case (the clustered decade corpus is where
    // routing is load-bearing — COVERAGE r19's ×10 row); this floor
    // pins the easy case so a walk regression is visible in CI.
    // Measured 0.740 routed (0.700 unrouted) — floor 0.70.
    val sf = "/root/testdata/sf0.001"
    val e = scored(graft.Tables.embeddings(spark, sf)).localCheckpoint()
    val base = e.filter(col("vec_id") >= VectorQueries.InsertNewMax)
    val lsh = VectorQueries.annLshPairs(base, 12, 4,
        VectorQueries.LshBucketCap)
      .select("qid", "nid").localCheckpoint()
    val g = VectorQueries.nnDescentFrom(base,
      lsh.union(VectorQueries.seedFill(base, lsh, VectorQueries.KnnK)),
      VectorQueries.KnnK, VectorQueries.KnnRounds)
    val newRaw = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < VectorQueries.InsertNewMax)
      .select("vec_id", "embedding")
    val routed = VectorQueries.annLshEntries(
      base.select("vec_id", "embedding"), newRaw,
      12, 4, VectorQueries.LshBucketCap, VectorQueries.RouteEntries)
    val ents = base.select(col("vec_id").as("nid"))
      .orderBy("nid").limit(VectorQueries.ServeEntries)
    val fwd = VectorQueries.graphInsert(e, g,
        VectorQueries.queryVecsOf(newRaw), ents, VectorQueries.KnnK,
        routed = Some(routed))
      .filter(col("qid") < VectorQueries.InsertNewMax)
      .select("qid", "nid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute truth over the base corpus for the inserted vectors
    val q = e.filter(col("vec_id") < VectorQueries.InsertNewMax)
      .select(col("vec_id").as("qid"), col("eL").as("qL"),
        col("ss").as("qss"))
    val cos = org.apache.spark.sql.functions.broadcast(q)
      .crossJoin(base.select(col("vec_id").as("nid"),
        col("eL").as("nL"), col("ss").as("nss")))
      .select(col("qid"), col("nid"),
        (call_function("long_dot", col("qL"), col("nL")).cast("double")
          / lit(1e12) /
          (sqrt(col("qss")) * sqrt(col("nss")))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
    val truth = cos
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rk") <= VectorQueries.KnnK).select("qid", "nid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & fwd).size.toDouble / truth.size
    assert(recall >= 0.70, f"routed insert-edge recall $recall%.3f < 0.70")
  }
}
