package graft.queries

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Plan contracts — the physical-plan properties the 100 TB design
  * depends on, asserted so a regression (a broadcast silently becoming
  * a sort-merge join, a scan losing column pruning) fails CI rather
  * than surfacing as a cluster incident. Checked against
  * `queryExecution.executedPlan` at sf0.001. */
class PlanContractSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: QuerySpec): String = {
    val df: DataFrame = q.run(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** The FINALIZED adaptive plan (Final Plan section only). `count()`
    * cannot finalize: it plans a separate QueryExecution, leaving the
    * inspected one at its initial static plan — so contracts about
    * AQE's runtime choices must execute THIS QueryExecution via
    * `toRdd` and then strip the echoed Initial Plan section (whose
    * operators would double-count in substring asserts). */
  private def finalizedPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  /** Exchange count EXCLUDING the small-file input spread
    * (Tables.spread's REPARTITION_BY_NUM over the scan, r20): contracts
    * below bound the ALGORITHM's shuffles; the spread is a demo-scale
    * input-parallelism guard that vanishes at lake scale (gated on
    * file size), so it must not count against them. Matched PRECISELY
    * (ADVICE r20): only a numbered repartition hashing on the spread's
    * own key (documents.doc_id — events are unspread since r21) is
    * subtracted, so an algorithmic `repartition(n, otherKey)` added
    * later still counts as the shuffle regression it would be. */
  private def algoExchanges(p: String): Int = {
    val spread =
      "Exchange hashpartitioning\\(doc_id[^\\n]*REPARTITION_BY_NUM".r
    "Exchange".r.findAllIn(p).size - spread.findAllIn(p).size
  }

  test("j1 enrich join broadcasts the dimension side") {
    assert(plan(CoreQueries.j1EnrichJoin).contains("BroadcastHashJoin"))
  }

  test("j6 catalog lookup broadcasts the catalog") {
    assert(plan(ExtraQueries.j6CatalogLookup).contains("BroadcastHashJoin"))
  }

  test("q1 pricing summary uses two-phase (partial) aggregation") {
    val p = plan(CoreQueries.q1PricingSummary)
    // partial + final HashAggregate pair = map-side combine before the
    // exchange — the difference between shuffling rows and shuffling
    // group states at scale
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("Exchange"))
  }

  test("p3 filter scan prunes to the selected columns") {
    val p = plan(CoreQueries.p3ValidFilter)
    // ReadSchema carries only the projected columns, not all of events
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("event_id") && read.contains("event_type"))
    assert(!read.contains("props") && !read.contains("value"))
  }

  test("p4 model filter reaches the scan with a pushed predicate") {
    val p = plan(CoreQueries.p4ModelFilter)
    assert(p.contains("PushedFilters: [IsNotNull(p_type)"))
  }

  test("t12 decontamination broadcasts the benchmark shingle set") {
    // the corpus side must never shuffle for the overlap join — the
    // eval-suite side is the small one by construction
    val p = plan(TextQueries.t12Decontaminate)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("t5 brute force broadcasts the query set (no shuffle before top-k)") {
    val p = plan(VectorQueries.t5AnnBruteForce)
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("s5 device walk: the isin pre-filter leaves exactly the 3 selected IPs") {
    val ips = ParserQueries.s5DsV2Pushdown.run(spark, sf).select("ip").distinct()
      .collect().map(_.getString(0)).toSet
    assert(ips == Set("10.0.0.101", "10.0.0.105", "10.0.0.110"))
  }

  test("updateSheet: no forced hint, yet AQE still broadcasts a fleet-sized id-map") {
    import org.apache.spark.sql.functions.col
    val sheet = graft.Tables.customer(spark, sf).select(
      col("c_custkey").cast("string").as("ID"), col("c_name").as("Status"))
    val idMap = graft.Tables.nation(spark, sf).select(
      col("n_nationkey").cast("string").as("id"), col("n_name").as("Status"))
    val updated = graft.ops.FleetSnapshot.updateSheet(sheet, idMap)
    // the operator must not force the strategy: an unconditional
    // broadcast(idMap) would override AQE and OOM on data-scale keys
    assert(!updated.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(finalizedPlan(updated).contains("BroadcastHashJoin"))
  }

  test("whole-stage codegen covers the scalar pipelines") {
    // the normalizer pack must stay inside one codegen stage; the
    // input-spread repartition (r20) makes the plan adaptive, so the
    // codegen markers appear on the FINALIZED plan
    import org.apache.spark.sql.functions.col
    val df = graft.Tables.documents(spark, sf)
      .select(graft.functions.Normalize.severityFromProblem(col("text")))
    // "*(n)" is the WholeStageCodegenExec marker in plan toString
    assert(finalizedPlan(df).contains("*(1)"))
  }

  test("x4 decide chain stays keyed by device (single agg, no global sort before it)") {
    val p = plan(ParserQueries.x4SnmpAlertDecide)
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).nonEmpty)
  }

  test("t22 stratified sample prunes text from the scan and partitions its window") {
    val p = plan(TextQueries.t22StratifiedSample)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // the sampler never needs document bodies — a scan reading text
    // for a 3-narrow-column query would move ~all corpus bytes
    assert(read.contains("doc_id") && read.contains("lang"))
    assert(!read.contains("text"))
    // partitioned window, not the single-partition Window-over-nothing
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"))
  }

  test("t23 keyword top-k broadcasts the corpus-count scalar") {
    // the 1-row count side must broadcast; shuffling the tf table
    // against a scalar would be absurd at scale
    assert(plan(TextQueries.t23KeywordTopk)
      .contains("BroadcastNestedLoopJoin"))
  }

  test("t24 centroids use two-phase aggregation over the exploded dims") {
    val p = plan(VectorQueries.t24LabelCentroids)
    // partial + final HashAggregate around the (label, dim) exchange:
    // map-side combine is what keeps the explode from shuffling
    // 64 rows per vector
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("t27 top n-grams plans a partial top-k, not a global sort") {
    val p = plan(TextQueries.t27TopNgrams)
    // TakeOrderedAndProject = per-partition top-k merged at the driver;
    // a global Sort before the limit would materialize every gram count
    assert(p.contains("TakeOrderedAndProject"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q3 revenue top-10 plans a partial top-k after the joins") {
    val p = plan(CoreQueries.q3TopOrders)
    assert(p.contains("TakeOrderedAndProject"))
    // the revenue agg must be two-phase around its exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q5 dim chain broadcasts the dims; date range reaches the orders scan") {
    val p = finalizedPlan(CoreQueries.q5LocalSupplier.run(spark, sf))
    // region/nation/customer/supplier are all dim-sized: every dim
    // join must broadcast — the fact side shuffles for orders⋈lineitem
    // only
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    // the year filter must prune at the parquet scan, not post-join
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q18 big-orders plans two-phase quantity rollup + partial top-k") {
    val p = plan(CoreQueries.q18BigOrders)
    // the HAVING filter lives on an aggregate — pushdown can't help, so
    // the defense at scale is map-side combine before the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("t31 simhash near-dup joins band buckets, never all pairs") {
    val p = plan(TextQueries.t31SimhashNearDup)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("t31b wide simhash keeps the banded equi-join shape") {
    val p = plan(TextQueries.t31bSimhashScale)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("s6 exact quantiles keep every window partitioned by group") {
    val p = plan(WarehouseQueries.s6ExactQuantiles)
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"))
  }

  test("j8 interval join rides the user equi-key, range as join condition") {
    val p = plan(WarehouseQueries.j8IntervalJoin)
    // the equality on user must drive the join strategy (hash/merge);
    // a planner that only sees the range would fall back to a
    // nested-loop over all purchase×click pairs — the scale killer
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("j7 as-of join is window-based: no nested-loop range join anywhere") {
    val p = plan(WarehouseQueries.j7AsOfJoin)
    assert(p.contains("Window"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("t32 star edge feed: bucket-keyed equi-join, hub agg two-phase, edge count linear") {
    // (t32's own final plan is a checkpoint scan — the CC loop runs
    // eagerly — so the contract targets the edge builder directly)
    val docs = graft.Tables.documents(spark, sf)
    val edges = TextQueries.nearDupStarEdgesOf(docs)
    val n = edges.count()
    val p = edges.queryExecution.executedPlan.toString
    // the hub election must combine map-side before the (band,bkey)
    // exchange, and the member⋈hub join must ride that key — never a
    // cartesian/NLJ over bucket members
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r
      .findAllIn(p).size >= 2)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // the structural point of the star feed: per bucket m−1 edges, so
    // total edges ≤ docs × bands regardless of duplication depth —
    // the bound the full pair set (C(m,2) per bucket) cannot give
    assert(n <= docs.count() * graft.functions.TextAnalysis.LshBands)
  }

  test("t37 boilerplate: two-phase block-df agg, flag join finalizes to broadcast") {
    val p = finalizedPlan(TextQueries.t37BlockBoilerplate.run(spark, sf))
    // block document-frequency must combine map-side before its exchange
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2)
    // the ≥3-df screen shrinks boiler to a sliver — AQE must broadcast
    // it so the corpus-sized block frame shuffles exactly once (the df
    // agg), not twice
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("t38 delta probe joins batch bands to the corpus index on the bucket key") {
    val p = finalizedPlan(TextQueries.t38DeltaNearDup.run(spark, sf))
    // candidate generation must ride the (band, bkey) equi-key — a
    // nested loop over batch×corpus is the re-pair-everything failure
    // the operator exists to avoid
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("t40 mix rebalance: rank window partitioned by source, no corpus self-join") {
    val p = plan(TextQueries.t40MixRebalance)
    // the rank window must carry the source partition spec (a global
    // agg's 1-row final merge legitimately passes a SinglePartition
    // exchange, so assert on the window itself, not the whole plan)
    assert(p.contains("windowspecdefinition(source"))
    assert(!p.contains("CartesianProduct")) // the 1-row frames broadcast
  }

  test("t41 sequence pack: cumulative sum rides a shard-partitioned window") {
    // the whole operator is one window — if the shard partitioning is
    // lost, the token stream funnels through ONE task at data scale
    val p = plan(TextQueries.t41SequencePack)
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"))
  }

  test("t43 dup spans: doc-partitioned run windows, two-phase aggs throughout") {
    val p = plan(TextQueries.t43DupSpans)
    // the interval-union windows must ride the doc_id partition — an
    // unpartitioned window over the corpus-wide position frame is the
    // single-task failure mode
    assert(p.contains("windowspecdefinition(doc_id"))
    // BOTH aggregations (span document-frequency AND the per-doc runs
    // rollup) must be partial+final pairs: >= 4 aggregate operators.
    // A bare >= 2 would be satisfied by the runs rollup alone and let
    // the corpus-wide df agg regress to single-phase unnoticed.
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("t39 plans the bloom prescreen: sketch subquery + might_contain filter") {
    val p = finalizedPlan(TextQueries.t39BloomDecontaminate.run(spark, sf))
    // the codegen'd membership test must gate the exact-confirm join —
    // without it this is just t12 with extra steps
    assert(p.contains("might_contain"))
    // the sketch is built by an aggregate in a scalar subquery (on the
    // executors), not collected to the driver
    assert(p.contains("Subquery") || p.contains("subquery"))
  }

  test("full near-dup pair builder: band-bucket equi-join, never all pairs") {
    // t34's composed plan can't carry this contract — its eager
    // checkpoints (chash, signature table, CC loop) leave only the
    // tail joins visible — so the contract targets the full-pair
    // builder itself, which t2/t21/t30/t34 all run
    val docs = graft.Tables.documents(spark, sf)
    val pairs = TextQueries.nearDupPairsOf(docs)
    pairs.count()
    val p = pairs.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("t48 LM scoring: model joins finalize to broadcast, no SMJ at gate scale") {
    // the count tables are Zipf-bounded models — at sf levels they
    // broadcast; the only BNLJ is the 1-row vocab scalar
    val df = LmQueries.t48BigramLm.run(spark, sf)
    val p = finalizedPlan(df)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2)
  }

  test("t50 BPE word cap is a distributed top-K, not a global sort") {
    // wordCounts ends in orderBy+limit — the plan must take the
    // TakeOrderedAndProject path (per-partition top-K + merge), never
    // a full Exchange+Sort of the vocabulary
    val df = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.TextAnalysis.tokens(
          org.apache.spark.sql.functions.col("text"))).as("word"))
      .filter(org.apache.spark.sql.functions.col("word") =!= "")
      .groupBy("word").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("wc"))
      .orderBy(org.apache.spark.sql.functions.col("wc").desc,
        org.apache.spark.sql.functions.col("word"))
      .limit(BpeQueries.BpeW)
    assert(df.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("t52 CMS: sketch aggregation is two-phase; probe join broadcasts") {
    val df = SketchQueries.t52CmsHeavyHitters.run(spark, sf)
    val p = finalizedPlan(df)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // partial + final pair on the (row, bucket) cells — shuffling
    // at most d·w states per partition, never raw instances
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2)
  }

  test("t53 BM25: probe terms broadcast into the postings scan; df rank is top-K") {
    val df = SearchQueries.t53Bm25TopK.run(spark, sf)
    val p = finalizedPlan(df)
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("t47 refine: the shortlist joins broadcast at gate scale") {
    val df = VectorQueries.t47IvfPqRefine.run(spark, sf)
    val p = finalizedPlan(df)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("t55 histogram: bounded-state agg is two-phase; everything joins broadcast") {
    val df = SketchQueries.t55HistQuantiles.run(spark, sf)
    val p = finalizedPlan(df)
    // the histogram groupBy carries partial+final pairs — at most B
    // bin states cross the exchange, never document rows
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("t56 NB: the cost-model join is broadcast; no corpus-sized SMJ") {
    // the deployment contract of a linear text classifier: model
    // tables (costs, label frame) broadcast onto the per-doc distinct
    // word stream — the corpus never shuffles to meet the model
    val df = LmQueries.t56NbClassify.run(spark, sf)
    val p = finalizedPlan(df)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("t6b langid NB: model tables broadcast onto the gram stream; no corpus SMJ") {
    // the fastText-langid serving contract (t56's, in the char-gram
    // modality): vocab-sized cost table + 5-row label frame broadcast;
    // the corpus never shuffles to meet the model
    val df = LmQueries.t6bLangidNb.run(spark, sf)
    val p = finalizedPlan(df)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("t57 SemDeDup: pair generation stays within clusters (cid-keyed join, cosine as condition)") {
    val df = VectorQueries.t57SemDedup.run(spark, sf)
    val p = finalizedPlan(df)
    // the pair join is keyed on cid with the cosine threshold + id
    // order as the join CONDITION — never a cartesian across clusters
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // the prune agg (min earlier dup per vec) is two-phase
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("t57d D4 prune: model frames broadcast, rank window cid-partitioned") {
    val df = VectorQueries.t57dD4Prototypes.run(spark, sf)
    val p = finalizedPlan(df)
    // cluster sums/counts are k·64-row frames riding broadcasts; the
    // d² scan is row-local; the only window is PARTITIONED by cid
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("windowspecdefinition(cid"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t38b: the standing index is capped PER BUCKET SIDE, never a global window") {
    val p = plan(TextQueries.t38bDeltaNearDupProd)
    // the row_number cap rides a (band, bkey, …)-partitioned window —
    // the bounded-index contract; a bare windowspecdefinition() here
    // would be the single-partition antipattern AND an unbounded index
    assert(p.contains("row_number"))
    assert(p.contains("windowspecdefinition(band"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  private val AnyJoin =
    "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct".r

  test("t57c prod SemDeDup: cluster-keyed pair join only, two-phase prune agg") {
    // the k ∝ N operating point must keep t57's shape — the crossJoin
    // E-step this family abandoned must never resurface in the plan
    val p = finalizedPlan(VectorQueries.t57cSemDedupProd.run(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("t61b: pair join rides the fingerprint equi-key off checkpoint scans") {
    // the cap is derived from the df HISTOGRAM (driver-side, one row
    // per distinct df value) — the final plan must show only the
    // checkpointed fingerprint frame self-joining on h, never a
    // cartesian or a fresh corpus scan
    val df = TextQueries.t61bWinnowPairsProd.run(spark, sf)
    val p = finalizedPlan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(AnyJoin.findAllIn(p).nonEmpty, p)
    assert(p.contains("ExistingRDD"), p) // the memoized winnow checkpoint
    assert(!p.contains("Scan parquet"), p) // no second corpus scan
  }

  test("t62 register build: two-phase max-agg off the raw instance stream, no distinct") {
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.TextAnalysis.{shingles, tokens}
    // HLL registers are duplicate-insensitive — a distinct before the
    // max-agg would re-key the corpus-sized shingle space through an
    // extra exchange for nothing. Contract: ONE exchange (the
    // (source, idx) agg), partial+final pair around it.
    val si = graft.Tables.documents(spark, sf)
      .select(col("source"), explode(shingles(tokens(col("text")), 3)).as("s"))
    val regs = SketchQueries.hllRegisters(si, "source")
    val p = regs.queryExecution.executedPlan.toString
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(algoExchanges(p) == 1, p)
  }

  test("t63 fertility: vocab joins broadcast; source rides the explode (no doc join)") {
    val p = finalizedPlan(BpeQueries.t63SourceFertility.run(spark, sf))
    // the per-word unit table is vocab-sized — AQE must broadcast it
    // onto the checkpointed instance stream
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    // source came through the explode itself: the final plan reads the
    // checkpointed (source, word) frame only — no second corpus scan
    // just to recover doc→source
    assert(!p.contains("Scan parquet"), p)
  }

  test("t64 novelty: inverted-index shape — equi-join + two-phase aggs, no pair join") {
    val p = finalizedPlan(TextQueries.t64NgramNovelty.run(spark, sf))
    // the first-seen MIN and the per-doc rollup are both partial+final
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    // the only join is gram-keyed 1:1 back — never a doc×doc pair join
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ExistingRDD"), p) // the shingle scan paid once
  }

  test("t65/t65b serve path is join-free: broadcast models + mapPartitions argmin") {
    for (q <- Seq(VectorQueries.t65IvfAssign, VectorQueries.t65bIvfProbe2)) {
      val p = plan(q)
      assert(AnyJoin.findAllIn(p).isEmpty, s"${q.name}: $p")
      assert(p.contains("MapPartitions"), s"${q.name}: $p")
    }
  }

  test("t68 cluster sample: join-free serve + cid-keyed windows, no pair join, no single partition") {
    val p = plan(VectorQueries.t68ClusterSample)
    // the whole operator is one Lloyd serve pass + two windows over
    // cid — a pair join here would be t57's cost for a quota decision
    assert(AnyJoin.findAllIn(p).isEmpty, p)
    assert(p.contains("windowspecdefinition(cid"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t69 quantile filter: one source-keyed window, no join, no single partition") {
    val p = plan(TextQueries.t69QualityQuantile)
    assert(p.contains("windowspecdefinition(source"), p)
    assert(AnyJoin.findAllIn(p).isEmpty, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t70 containment: shingle-keyed inverted-index equi-join, df screen, no cartesian") {
    val p = finalizedPlan(TextQueries.t70Containment.run(spark, sf))
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // one shingle scan feeds the screen and both join sides
    assert(p.contains("ExistingRDD"), p)
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("t4b LSH-verify twin: band-keyed equi-joins only, no cartesian, no window") {
    val p = finalizedPlan(TextQueries.t4bJaccardLsh.run(spark, sf))
    // stage 1 (band-bucket self-join) and stage 2 (doc_id verify joins)
    // are all hash/sort-merge EQUI joins — never an all-pairs product
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // one checkpointed signature scan feeds both self-join sides
    assert(p.contains("ExistingRDD"), p)
    // the exact-Jaccard verify is row-local array arithmetic: no rank
    // window, no single-partition stage anywhere in the pipeline
    assert(!p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t70b LSH-verify containment: same contract as t4b, both directions row-local") {
    val p = finalizedPlan(TextQueries.t70bContainmentLsh.run(spark, sf))
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ExistingRDD"), p)
    // the direction split is a Union of row-local projections over the
    // verified pair frame — no window, no extra shuffle for it
    assert(p.contains("Union"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t4c prefix-filter join: equi-joins only, no cartesian, no single partition") {
    val p = finalizedPlan(TextQueries.t4cJaccardPrefix.run(spark, sf))
    // the df-ranking windows are doc_id-partitioned but live INSIDE the
    // checkpointed prefix build (the ExistingRDD seam hides them from
    // this plan — t70c, which checkpoints BEFORE ranking, pins the
    // windowspecdefinition(doc_id shape for the family); what this plan
    // must show: prefix-token equi self-join + row-local verify, never
    // an all-pairs product, never a single-partition stage
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t70c prefix-filter containment: one checkpointed shingle scan, no cartesian") {
    val p = finalizedPlan(TextQueries.t70cContainmentPrefix.run(spark, sf))
    // the checkpointed (doc_id, sg, n) stream feeds df ranking, the
    // prefix, AND the full container side; the directional candidate
    // join is prefix-shingle equi, never an all-pairs product
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ExistingRDD"), p)
    assert(p.contains("windowspecdefinition(doc_id"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t66 report: rolls checkpointed manifest frames, no cartesian anywhere") {
    val p = finalizedPlan(TextQueries.t66SourceCuration.run(spark, sf))
    // the cluster side arrives as the memoized star-frame checkpoint
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("t67 scorecard: three source-grained frames join broadcast") {
    val p = finalizedPlan(ScorecardQueries.t67SourceScorecard.run(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("m6/m7 feature extraction: partition-local decode+project, no join") {
    for (q <- Seq(MultimodalQueries.m6AudioFeatures,
        MultimodalQueries.m7ImageFeatures)) {
      val p = plan(q)
      assert(p.contains("MapPartitions"), s"${q.name}: $p")
      assert(AnyJoin.findAllIn(p).isEmpty, s"${q.name}: $p")
    }
  }

  test("m8/m9 image dedup: hash-partitioned grouping window, no join, never single-partition") {
    for ((q, key) <- Seq(MultimodalQueries.m8RasterDedup -> "sig",
        MultimodalQueries.m9DhashNearDup -> "dhash",
        MultimodalQueries.m11AudioNearDup -> "ahash")) {
      val p = plan(q)
      // decode is partition-local; the only exchange is the grouping
      // key's — a join or a global window here would be the 100 TB
      // antipattern (all rasters through one task)
      assert(p.contains("MapPartitions"), s"${q.name}: $p")
      assert(p.contains(s"windowspecdefinition($key"), s"${q.name}: $p")
      assert(!p.contains("SinglePartition"), s"${q.name}: $p")
      assert(AnyJoin.findAllIn(p).isEmpty, s"${q.name}: $p")
    }
  }

  test("m12 clip near-dup: frame-key inverted-index equi-join off one decode pass") {
    val p = finalizedPlan(MultimodalQueries.m12ClipNearDup.run(spark, sf))
    // pair generation must ride the checksum equi-key (the t58 shape)
    assert(AnyJoin.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ExistingRDD"), p) // decode paid once, both sides
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("m13b bucketed image ANN: bucket-keyed equi candidates, no cartesian, keyed top-k") {
    val p = finalizedPlan(MultimodalQueries.m13bImageAnnLsh.run(spark, sf))
    // the scale path must NEVER fall back to m13's brute pair sweep:
    // candidates ride the (tbl, bkey) equi-key, scoring fetches by id
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(AnyJoin.findAllIn(p).nonEmpty, p)
    assert(p.contains("windowspecdefinition(qid"), p)
    assert(p.contains("ExistingRDD"), p) // one decode+project pass
  }

  test("m14 raw clip near-dup: the m12 contract holds codec-free") {
    val p = finalizedPlan(MultimodalQueries.m14RawClipNearDup.run(spark, sf))
    assert(AnyJoin.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ExistingRDD"), p) // decode paid once, both sides
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("m15 raw frame features: partition-local decode+project, no join") {
    val p = plan(MultimodalQueries.m15RawFrameFeatures)
    assert(p.contains("MapPartitions"), p)
    assert(AnyJoin.findAllIn(p).isEmpty, p)
  }

  test("m16 phash cluster edge feed: band-keyed equi-join, popcount filter, no hamming sweep") {
    // (m16's own final plan is a checkpoint scan — the CC loop runs
    // eagerly — so the contract targets the edge builder directly,
    // the t32 convention)
    import org.apache.spark.sql.functions.col
    val hashed = graft.Tables.customer(spark, sf)
      .select(col("c_custkey").cast("long").as("mediaId"),
        (col("c_custkey").cast("long") * 2654435761L).as("dhash"))
    val edges = graft.multimodal.Multimodal
      .dHashEdges(hashed, maxDist = 2, bands = 4)
    edges.count()
    val p = edges.queryExecution.executedPlan.toString
    // candidates must ride the (band, bval) equi-key — a pairwise
    // hamming comparison over all images is the quadratic failure
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the popcount screen is a codegen'd expression, not a UDF
    assert(p.contains("bit_count"), p)
  }

  test("m17 delta probe rides the band equi-key off one decode pass, no corpus self-pair") {
    val p = finalizedPlan(MultimodalQueries.m17DeltaPhash.run(spark, sf))
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bit_count"), p)
    assert(p.contains("ExistingRDD"), p) // hash pass paid once, both sides
  }

  test("m19 clip dedup: digest assembly + sig-keyed window, no pair join at the exact tier") {
    val p = plan(MultimodalQueries.m19ClipDedup)
    assert(p.contains("MapPartitions"), p) // partition-local decode
    assert(p.contains("windowspecdefinition(clip_sig"), p)
    assert(AnyJoin.findAllIn(p).isEmpty, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("m20 phash manifest: keeper screen before clustering, id-keyed join back, no cartesian") {
    val p = finalizedPlan(MultimodalQueries.m20PhashManifest.run(spark, sf))
    // the cluster tier must ride the checkpointed exact frame (dedup
    // BEFORE cluster — never band-join rows the exact tier collapsed)
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(AnyJoin.findAllIn(p).nonEmpty, p)
  }

  test("m24 clip clusters: frame-sig keyed edges, no cartesian, label attach id-keyed") {
    val p = finalizedPlan(MultimodalQueries.m24ClipClusters.run(spark, sf))
    // CC runs eagerly inside; the final plan is the label attach over
    // the checkpointed decode — equi joins only, never a clip sweep
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("m25 clip manifest: keeper screen before clustering, id-keyed join back, no cartesian") {
    val p = finalizedPlan(MultimodalQueries.m25ClipManifest.run(spark, sf))
    // the m20 contract in the video modality: the cluster tier rides
    // the checkpointed exact frame (dedup BEFORE cluster)
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(AnyJoin.findAllIn(p).nonEmpty, p)
  }

  test("m26 audio manifest: keeper screen before clustering, id-keyed join back, no cartesian") {
    val p = finalizedPlan(MultimodalQueries.m26AudioManifest.run(spark, sf))
    // the m20/m25 contract in the audio modality
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(AnyJoin.findAllIn(p).nonEmpty, p)
  }

  test("m13 image ANN: query features broadcast against the corpus, keyed top-k window") {
    val p = plan(MultimodalQueries.m13ImageAnn)
    // the t5 contract on self-extracted features: the 10-query side
    // broadcasts (BNLJ on the non-equi self-pair condition), the top-k
    // window stays qid-partitioned
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("windowspecdefinition(qid"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("m10 media manifest: both grouping windows keyed, one id-equi join, no cartesian") {
    val p = plan(MultimodalQueries.m10MediaManifest)
    assert(p.contains("windowspecdefinition(sig"), p)
    assert(p.contains("windowspecdefinition(dhash"), p)
    assert(!p.contains("SinglePartition"), p)
    // the sig⋈dhash merge rides media_id — equi strategies only
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t71 DSIR: bucket models broadcast, rank rides the RDD seam, no window") {
    val p = plan(CurationQueries.t71DsirWeights)
    // the 64-row bucket models and the scalar totals must broadcast —
    // the corpus instance stream never shuffles to meet a model
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // VERDICT r16 item 4: the rank is GlobalRank's range-partition +
    // zipWithIndex (ExistingRDD) — t71b's contract, now shared; the
    // former per-value-frame window (windowspecdefinition(logw_bits))
    // is retired: 869 s → 523 s at ×1000 on the same core
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("t71b Gumbel DSIR: rank rides the RDD seam, no corpus window, no cartesian") {
    val p = plan(CurationQueries.t71bDsirSample)
    // near-unique noisy scores → the rank must be GlobalRank's
    // range-partition + zipWithIndex (ExistingRDD), never a
    // single-partition corpus window; model joins live upstream of
    // the seam in their own (t71-contracted) execution
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t72 Gopher rules: row-local — no joins, no aggregation exchange") {
    val p = plan(CurationQueries.t72GopherRules)
    assert(AnyJoin.findAllIn(p).isEmpty, p)
    assert(!p.contains("HashAggregate"), p)
    // one scan, one projection pipeline; the only algorithmic exchange
    // is the presentation sort's range partitioning
    assert(algoExchanges(p) <= 1, p)
  }

  test("t72b C4 rules: row-local — no joins, no aggregation exchange") {
    val p = plan(CurationQueries.t72bC4Rules)
    assert(AnyJoin.findAllIn(p).isEmpty, p)
    assert(!p.contains("HashAggregate"), p)
    assert(algoExchanges(p) <= 1, p)
  }

  test("t79 unimax: one two-phase corpus aggregate; scalar frames broadcast") {
    val p = plan(CurationQueries.t79UnimaxMix)
    // the per-source token count is the ONLY corpus-scale stage (map-
    // side partials); the waterfill runs on the sources frame, whose
    // scalar cross-joins ride O(1)-row broadcasts
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m23 clip ANN: one decode pass, broadcast queries, keyed top-k window") {
    val p = plan(MultimodalQueries.m23ClipAnn)
    assert(p.contains("ExistingRDD"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("windowspecdefinition(qid"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("m22 audio ANN: one decode pass, broadcast queries, keyed top-k window") {
    val p = plan(MultimodalQueries.m22AudioAnn)
    // the m13 contract in the audio modality: checkpointed single
    // decode+project pass, 10-query side broadcast (BNLJ on the
    // non-equi self-pair condition), qid-partitioned top-k
    assert(p.contains("ExistingRDD"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("windowspecdefinition(qid"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t77 margin mining: query batch broadcasts, every window partitioned") {
    val p = plan(VectorQueries.t77MarginMining)
    // the t5 contract on the pair generator: the 8-query side rides a
    // broadcast NLJ; nothing plans a cartesian; the rank/margin
    // windows stay qid-/nid-partitioned
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t78 unigram viterbi: literal model, word-keyed join, per-doc partials") {
    val p = plan(WordPieceQueries.t78UnigramViterbi)
    // the DP fold rides literal cost maps — no model join; same t51/t76
    // skeleton: word-keyed instance join + two-phase per-doc aggregate
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("t75 wordpiece vocab: top-K cut is TakeOrdered, no corpus-sized window") {
    val p = plan(WordPieceQueries.t75WordpieceVocab)
    // the multi-char cut must be a distributed top-K, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t76 wordpiece segment: model is literal, word-keyed join, per-doc partials") {
    val p = plan(WordPieceQueries.t76WordpieceSegment)
    // the piece maps ride as literals — segmentation adds NO model join
    // beyond the word-keyed instance join (AQE broadcasts the vocab)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("t74 curation v2: doc-keyed equi joins only, no cartesian") {
    val p = plan(CurationQueries.t74CurationV2)
    assert(!p.contains("CartesianProduct"), p)
    // the scalar totals broadcast (t71's O(1)-row frames) may ride a
    // BNLJ; every corpus-sized merge must be a doc_id equi join
    assert(AnyJoin.findAllIn(p).nonEmpty, p)
  }

  test("t73 line dedup: hash-keyed argmin with map-side partials, equi join back") {
    val p = plan(CurationQueries.t73LineDedup)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // two-phase min: partial + final aggregate pair around the lh
    // exchange (shuffling one (lh, min) state per map partition, not
    // every line instance)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t43b rewrite: doc-partitioned windows/aggs, anti join is equi, no cartesian") {
    val p = finalizedPlan(TextQueries.t43bDupSpanRewrite.run(spark, sf))
    // the interval window and the reassembly aggregate both ride the
    // doc_id partition; the kept-token screen is a (doc_id, tokpos)
    // equi anti join — never a product, never a corpus-wide window
    assert(p.contains("windowspecdefinition(doc_id"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t81 propagation: checkpointed edge/base invariants, equi joins, no window") {
    val p = finalizedPlan(GraphQueries.t81ScorePropagation.run(spark, sf))
    // the final plan joins the checkpointed node base against the last
    // iteration's checkpointed scores — the MinHash pipeline must NOT
    // reappear (each iteration materialized, lineage truncated)
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t81c star propagation: same iteration discipline on the star graph") {
    val p = finalizedPlan(GraphQueries.t81cPropagationStar.run(spark, sf))
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t81b pagerank: same iteration discipline as t81") {
    val p = finalizedPlan(GraphQueries.t81bGraphPagerank.run(spark, sf))
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("t80 fusion: query-partitioned rank windows; fusion join is equi") {
    val df = SearchQueries.t80RrfFusion.run(spark, sf)
    val p = finalizedPlan(df)
    // both legs' candidate ranks and the fused rank partition by
    // query_id — no global window anywhere; the scalar stats frame
    // rides a broadcast (BNLJ over 1 row is the sanctioned shape,
    // t74's precedent); the candidate merge is a (query_id, doc_id)
    // equi full-outer join
    assert(p.contains("windowspecdefinition(query_id"), p)
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
    // 'one postings build' (the scaladoc claim), pinned like the t81
    // contracts: both legs hang off the checkpointed tokenize frame —
    // the ExistingRDD seam — and the corpus parquet is NEVER re-scanned
    // in the final plan (a regression rebuilding the scan per leg
    // would reintroduce a parquet leaf) (ADVICE r17)
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("Scan parquet"), p)
  }

  test("t83 serve: qid-partitioned beam rank off checkpointed state, no corpus rescan") {
    val p = finalizedPlan(VectorQueries.t83KnnServe.run(spark, sf))
    // the final rerank windows per query over the checkpointed last
    // beam; the corpus parquet never reappears (vectors come off the
    // embScaled checkpoint, the graph off the per-round checkpoints)
    assert(p.contains("windowspecdefinition(qid"), p)
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("Scan parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t84 insert / t85 routed serve / t87 PQ serve / t88 consolidate inherit the serve contract: no corpus rescan, no cartesian") {
    // all compose walks/rebuilds over checkpointed state — routed
    // entries, the back-edge merge, the ADC rounds + exact final
    // rerank (t87), and the degraded-node candidate pools (t88) must
    // not reintroduce a corpus scan or a pair product into the final
    // plan
    for (q <- Seq(VectorQueries.t84GraphInsert, VectorQueries.t85RoutedServe,
        VectorQueries.t87PqServe, VectorQueries.t88GraphConsolidate)) {
      val p = finalizedPlan(q.run(spark, sf))
      assert(p.contains("windowspecdefinition(qid"), s"${q.name}: $p")
      assert(p.contains("ExistingRDD"), s"${q.name}: $p")
      assert(!p.contains("Scan parquet"), s"${q.name}: $p")
      assert(!p.contains("CartesianProduct"), s"${q.name}: $p")
    }
  }
}
