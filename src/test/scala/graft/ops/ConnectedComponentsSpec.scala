package graft.ops

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("chain, blob, and singleton all resolve to min-id labels") {
    // components: {1,2,3,4} (chain — needs >1 round), {10,11,12}
    // (triangle), {20} (isolated node, no edges)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("n")
    val got = ConnectedComponents.labels(edges, "a", "b", nodes, "n")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("maxRounds-exceeded escalation: diameter-200 chain lands on min labels") {
    // VERDICT r15 item 6: the adversarial chain (paginated boilerplate
    // at 100 TB) must neither half-merge nor hard-fail — labels() hits
    // its bound and escalates to star contraction on the
    // label-contracted graph; the composed result must be exact
    // min-label parity (+ untouched singleton). The chain needs 199
    // change rounds of min-propagation; maxRounds = 0 escalates after
    // the first, so only the star phase (64-round budget) can finish it.
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = ((1L to 200L) :+ 999L).toDF("n")
    for (maxRounds <- Seq(5, 0)) {
      val got = ConnectedComponents.labels(edges, "a", "b", nodes, "n",
        maxRounds = maxRounds).as[(Long, Long)].collect().toMap
      assert(got.size == 201, s"maxRounds=$maxRounds")
      assert((1L to 200L).forall(got(_) == 1L) && got(999L) == 999L,
        s"maxRounds=$maxRounds")
    }
  }

  test("labelsStar: long chain converges in O(log n) rounds") {
    // the star phase labels() escalates to: a 200-node path needs 199
    // change rounds under min-propagation; star contraction must land
    // it in ~log2(200) — well under 15
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("u", "v")
    val got = ConnectedComponents.starPairs(edges, maxRounds = 15)
      .as[(Long, Long)].collect()
    assert(got.length == 199 && got.forall(_._2 == 1L))
    assert(got.map(_._1).toSet == (2L to 200L).toSet)
  }

  test("star escalation matches min-label on the mixed graph") {
    // maxRounds = 0: the star phase finishes every multi-round component
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("n")
    val a = ConnectedComponents.labels(edges, "a", "b", nodes, "n")
      .as[(Long, Long)].collect().toMap
    val b = ConnectedComponents.labels(edges, "a", "b", nodes, "n", maxRounds = 0)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("converging in exactly maxRounds is NOT a failure") {
    // 8-node path converges in 7 change rounds; the zero-change
    // confirmation pass must not count against the bound
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (1L to 8L).toDF("n")
    val ok = ConnectedComponents.labels(edges, "a", "b", nodes, "n",
      maxRounds = 7).as[(Long, Long)].collect()
    assert(ok.forall(_._2 == 1L))
  }
}
