package graft.ops

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen

import graft.SparkSpec

/** Property tests for the graph/join ops: each distributed result is
  * checked against a brute-force in-memory reference over randomly
  * generated inputs (one Spark job per case set, fixed seed via
  * Gen.sample determinism not required — any sampled instance must
  * hold). */
class OpsPropSpec extends SparkSpec {
  import spark.implicits._

  test("ConnectedComponents equals union-find on random graphs") {
    val gen = for {
      n <- Gen.chooseNum(1, 25)
      m <- Gen.chooseNum(0, 40)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
    } yield (n, edges.filter { case (a, b) => a != b })
    for (_ <- 1 to 5) {
      val (n, edges) = gen.sample.get
      // reference: driver-side union-find with min-label normalization
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0 until n.toInt)
        .map(i => i.toLong -> find(i).toLong).toMap
      val edgeDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b")
        else edges.toDF("a", "b")
      val got = ConnectedComponents
        .labels(edgeDf, "a", "b", (0L until n.toLong).toDF("id"), "id")
        .as[(Long, Long)].collect().toMap
      // union-find roots are min labels here because unions always
      // point the larger root at the smaller one
      assert(got == expect, s"n=$n edges=$edges")
      // maxRounds = 0: star contraction after the first changing round
      val gotStar = ConnectedComponents
        .labels(edgeDf, "a", "b", (0L until n.toLong).toDF("id"), "id", maxRounds = 0)
        .as[(Long, Long)].collect().toMap
      assert(gotStar == expect, s"star: n=$n edges=$edges")
    }
  }

  test("GlobalRank equals the sort-index reference on random keyed data") {
    val gen = for {
      n <- Gen.chooseNum(1, 500)
      rows <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 50L), Gen.chooseNum(0L, 1000000L)))
    } yield rows.zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
    for (_ <- 1 to 3) {
      val rows = gen.sample.get
      // reference: in-memory sort by (k, v, id) → 1-based position
      val expect = rows.sortBy(r => (r._2, r._3, r._1)).zipWithIndex
        .map { case (r, i) => r._1 -> (i + 1L) }.toMap
      val got = GlobalRank.withGlobalRowNumber(
        rows.toDF("id", "k", "v"), "rn", Some(7),
        Seq(col("k"), col("v"), col("id")))
        .select("id", "rn").as[(Long, Long)].collect().toMap
      assert(got == expect, s"rows=${rows.take(20)}...")
    }
  }

  test("AsOfJoin equals the brute-force per-row scan on random inputs") {
    val gen = for {
      nl <- Gen.chooseNum(1, 20)
      nr <- Gen.chooseNum(0, 20)
      l <- Gen.listOfN(nl, Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 20L)))
      r <- Gen.listOfN(nr, Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 20L)))
    } yield (l.zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) },
      r.zipWithIndex.map { case ((k, ts), i) => (i.toLong + 100, k, ts) })
    for (_ <- 1 to 5) {
      val (l, r) = gen.sample.get
      // reference: latest right row (key match, ts <=), tie on ts by
      // greatest payload struct = max rid here (rid leads the struct)
      val expect = l.map { case (id, k, ts) =>
        val cands = r.filter(x => x._2 == k && x._3 <= ts)
        id -> (if (cands.isEmpty) None
               else Some(cands.maxBy(x => (x._3, x._1))._1))
      }.toMap
      val rDf =
        if (r.isEmpty) Seq.empty[(Long, Long, Long)].toDF("rid", "k", "ts")
        else r.toDF("rid", "k", "ts")
      val got = AsOfJoin(l.toDF("lid", "k", "ts"), rDf,
        Seq("k"), "ts", "ts", payload = Seq("rid"))
        .select("lid", "asof_rid").collect()
        .map(x => x.getLong(0) ->
          (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
      assert(got == expect, s"l=$l r=$r")
    }
  }

  test("AsOfJoin no-key path equals the global brute-force scan") {
    val gen = for {
      nl <- Gen.chooseNum(1, 20)
      nr <- Gen.chooseNum(0, 20)
      l <- Gen.listOfN(nl, Gen.chooseNum(0L, 20L))
      r <- Gen.listOfN(nr, Gen.chooseNum(0L, 20L))
    } yield (l.zipWithIndex.map { case (ts, i) => (i.toLong, ts) },
      r.zipWithIndex.map { case (ts, i) => (i.toLong + 100, ts) })
    for (_ <- 1 to 5) {
      val (l, r) = gen.sample.get
      // global carry-forward: every right row serves every left row,
      // latest-earlier wins, ties by max rid (payload struct order)
      val expect = l.map { case (id, ts) =>
        val cands = r.filter(_._2 <= ts)
        id -> (if (cands.isEmpty) None
               else Some(cands.maxBy(x => (x._2, x._1))._1))
      }.toMap
      val rDf =
        if (r.isEmpty) Seq.empty[(Long, Long)].toDF("rid", "ts")
        else r.toDF("rid", "ts")
      val got = AsOfJoin(l.toDF("lid", "ts"), rDf,
        Seq.empty, "ts", "ts", payload = Seq("rid"))
        .select("lid", "asof_rid").collect()
        .map(x => x.getLong(0) ->
          (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
      assert(got == expect, s"l=$l r=$r")
    }
  }

  test("AsOfJoin with NULL keys and NULL timestamps equals the SQL reference") {
    val optK = Gen.option(Gen.chooseNum(0L, 2L))
    val optTs = Gen.option(Gen.chooseNum(0L, 15L))
    val gen = for {
      nl <- Gen.chooseNum(1, 15)
      nr <- Gen.chooseNum(0, 15)
      l <- Gen.listOfN(nl, Gen.zip(optK, optTs))
      r <- Gen.listOfN(nr, Gen.zip(optK, optTs))
    } yield (l.zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) },
      r.zipWithIndex.map { case ((k, ts), i) => (i.toLong + 100, k, ts) })
    for (_ <- 1 to 5) {
      val (l, r) = gen.sample.get
      // SQL semantics: a match needs BOTH keys non-null and equal and
      // BOTH timestamps non-null with r.ts <= l.ts — NULL never
      // matches anything, on either side of either column
      val expect = l.map { case (id, k, ts) =>
        val cands = r.filter(x => k.isDefined && x._2 == k &&
          ts.isDefined && x._3.isDefined && x._3.get <= ts.get)
        id -> (if (cands.isEmpty) None
               else Some(cands.maxBy(x => (x._3.get, x._1))._1))
      }.toMap
      val rDf =
        if (r.isEmpty)
          Seq.empty[(Long, Option[Long], Option[Long])].toDF("rid", "k", "ts")
        else r.toDF("rid", "k", "ts")
      val got = AsOfJoin(l.toDF("lid", "k", "ts"), rDf,
        Seq("k"), "ts", "ts", payload = Seq("rid"))
        .select("lid", "asof_rid").collect()
        .map(x => x.getLong(0) ->
          (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
      assert(got == expect, s"l=$l r=$r")
    }
  }
}
