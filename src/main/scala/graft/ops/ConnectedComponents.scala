package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label
  * propagation (the dedup-cluster resolver: near-dup PAIRS over-delete
  * when similarity is non-transitive; components give each document a
  * stable cluster id).
  *
  * Each round every node adopts the minimum label among itself and its
  * neighbors — two shuffles per round (edge⋈label + groupBy, then the
  * label update join), state is one (id, label) row per node, lineage
  * is truncated per round with localCheckpoint so plan depth stays
  * O(1) instead of O(rounds). The driver holds only a per-round
  * changed-count scalar, never row data.
  *
  * Rounds needed = component diameter. Near-dup graphs are shallow
  * (LSH components are dense blobs, diameter 2-4), so this beats the
  * constant-factor-heavy O(log n) large-star/small-star alternation in
  * practice; `maxRounds` guards the adversarial long-chain case — on
  * hitting it [[labels]] ESCALATES on its own to the large-star/
  * small-star contraction (O(log n) rounds, the MapReduce
  * connected-components literature) on the label-CONTRACTED graph
  * (VERDICT r15 item 6: a 100 TB chain-shaped graph — paginated
  * boilerplate — would hit the bound; half-merged clusters and a hard
  * failure are both wrong answers there). The contraction runs on one
  * node per current label, so the min-propagation rounds already paid
  * shrink the escalated problem; composing the two mappings is exact
  * because min propagation never merges across true components.
  */
object ConnectedComponents {

  /** Label every node in `nodes(nodeCol)` with the min node id of its
    * component under undirected `edges(srcCol, dstCol)`. Returns
    * (`nodeCol` → "id", "label"). Node ids must be non-null; edges may
    * reference only a subset of nodes (the rest stay singletons).
    *
    * Only edge-touched nodes enter the loop: a node with no edge can
    * never change label, and in a deduplicated corpus near-dup members
    * are a small minority — loop state is |touched|, not |V|, and the
    * untouched majority joins back once at the end as singletons.
    *
    * A run still changing labels after `maxRounds` min-label rounds
    * escalates to [[starPairs]] (see the object doc); `maxRounds = 0`
    * escalates after the first changing round. */
  def labels(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String, maxRounds: Int = 50): DataFrame = {
    // one exchange establishes hash(src) (r20, guide §2.4): the
    // explicit src repartition satisfies the (src, dst) distinct
    // (subset rule), the node-set distinct below, AND the per-round
    // edge⋈label probe — the dedup no longer pays its own (src, dst)
    // shuffle and the loop joins start co-partitioned
    val sym = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionAll(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .repartition(col("src"))
      .distinct()
      .localCheckpoint()
    var labels = sym
      .select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var round = 0
    var changed = 1L
    while (changed > 0) {
      round += 1
      val neighborMin = sym
        .join(labels, sym("src") === labels("id"))
        .groupBy("dst").agg(min("label").as("nmin"))
      // every touched node has ≥1 neighbor, so the join is inner: nmin
      // always exists (self-label still wins via least)
      val staged = labels
        .join(neighborMin, labels("id") === neighborMin("dst"))
        .select(col("id"), col("label"),
          least(col("label"), col("nmin")).as("next"))
        .localCheckpoint()
      changed = staged.filter(col("next") < col("label")).count()
      labels = staged.select(col("id"), col("next").as("label"))
      // bound CHANGE rounds only: up to maxRounds rounds may report
      // changes, and a run converging in exactly maxRounds still gets
      // its zero-change confirmation pass (round maxRounds+1)
      if (changed > 0 && round > maxRounds) {
        System.err.println(s"[cc] WARNING: min-label hit the $maxRounds-" +
          "round bound — escalating to large-star/small-star contraction " +
          "on the label-contracted graph (O(log n) rounds)")
        // contract edges through the current labels: one node per
        // label, loops dropped inside starPairs' orient; the rounds
        // already run shrink the escalated problem
        val contracted = sym
          .join(labels.select(col("id").as("src"), col("label").as("cu")),
            "src")
          .join(labels.select(col("id").as("dst"), col("label").as("cv")),
            "dst")
          .select(col("cu").as("u"), col("cv").as("v"))
        // the star phase gets its own O(log n) budget — the caller's
        // maxRounds bounds O(diameter) min-propagation, a different
        // regime; 64 log-halving rounds covers any graph that fits in
        // 64-bit ids
        val starred = starPairs(contracted, math.max(maxRounds, 64))
        // compose: id → its partial label → that label's star min;
        // labels whose component already fully merged have no star
        // edge and keep themselves
        val composed = labels
          .join(starred.select(col("u").as("label"), col("v").as("slabel")),
            Seq("label"), "left")
          .select(col("id"),
            coalesce(col("slabel"), col("label")).as("label"))
        return attachLabels(nodes, nodeCol, composed)
      }
    }
    attachLabels(nodes, nodeCol, labels)
  }

  /** Closing step of both exits of [[labels]]: left-join the computed
    * (id, label) pairs onto the node set; absent nodes are singletons
    * labeling themselves. */
  private def attachLabels(nodes: DataFrame, nodeCol: String,
      pairs: DataFrame): DataFrame =
    nodes
      .select(col(nodeCol).as("id"))
      .join(pairs.select(col(pairs.columns(0)).as("tid"),
        col(pairs.columns(1)).as("tlabel")), col("id") === col("tid"), "left")
      .select(col("id"), coalesce(col("tlabel"), col("id")).as("label"))

  /** Alternating large-star/small-star contraction over an ("u", "v")
    * edge frame — [[labels]]' escalation once its O(diameter) rounds
    * exceed `maxRounds` (long chains, lattice-like graphs). Returns the
    * converged star forest as (u → component-min v) pairs for every
    * edge-touched non-min node.
    *
    * State is an edge list that converges to a star per component
    * (every node → its component min). Per round: one groupBy per
    * star operation, both with map-side partial agg on the collected
    * neighbor mins; edges stay (child > parent)-oriented so the list
    * shrinks monotonically once stars form. */
  private[ops] def starPairs(edges: DataFrame, maxRounds: Int): DataFrame = {
    // orient every edge large→small ((u,v) with u > v), drop loops
    def orient(df: DataFrame): DataFrame = df
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    var l = orient(edges).distinct()
      .localCheckpoint()
    var round = 0
    var done = false
    while (!done) {
      round += 1
      // LARGE-STAR: per node u over ALL neighbors (both directions),
      // m = min(Γ(u) ∪ {u}); link every strictly-larger neighbor to m.
      val nbrAll = l.unionAll(l.select(col("v").as("u"), col("u").as("v")))
      val mAll = nbrAll.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val afterLarge = orient(nbrAll.join(mAll, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
        .distinct()
      // SMALL-STAR: per node u over its SMALLER neighbors (the list is
      // already (u > v)-oriented), m = min; link u and each smaller
      // neighbor to m.
      val mSmall = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
      val next = orient(afterLarge.join(mSmall, "u")
        .select(explode(array(col("u"), col("v"))).as("u"),
          col("m").as("v")))
        .distinct()
        .localCheckpoint()
      val changed = next.unionAll(l).groupBy("u", "v").count()
        .filter(col("count") === 1).limit(1).count()
      done = changed == 0
      require(done || round <= maxRounds,
        s"star contraction did not converge in $maxRounds rounds")
      l = next
    }
    // l is now a star forest: u → component min. Singletons label
    // themselves (handled by attachLabels' left join).
    l.select(col("u"), col("v"))
  }
}
