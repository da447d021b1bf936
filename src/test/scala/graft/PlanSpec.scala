package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression gate: the properties that make these operators
  * scale are physical-plan shapes, so pin them. A refactor that silently
  * turns the edge lookup into a BroadcastNestedLoopJoin or loses parquet
  * pushdown fails here, not in production.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** Formatted explain (full ReadSchema / PushedFilters, no truncation). */
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** Count of FORCED broadcast hints surviving into the optimized logical
    * plan (`strategy=broadcast` in the Join's hint). The static physical
    * plan broadcasts small frames anyway at this SF via size estimates —
    * which is fine and scale-safe; what must NOT appear is a *hint*, which
    * overrides size estimation and OOMs when the frame grows with the
    * corpus.
    */
  private def forcedBroadcasts(name: String): Int = {
    val df = SparkEntry.queries(name)(spark, sf)
    "strategy=broadcast".r
      .findAllIn(df.queryExecution.optimizedPlan.toString).size
  }

  /** Final adaptive plan, after execution (codegen spans materialized). */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("suite-wide audit: no declared query windows over a single unbounded partition") {
    // An empty-partitionSpec Window is a single-task global sort — the
    // shape this engine bans at data scale. Sweep EVERY declared query's
    // optimized plan; a window is acceptable only when its input is
    // provably bounded (a GlobalLimit below it — the vocab-top-100 style
    // frames) or the query is on the documented whitelist of O(small)
    // aggregated frames below. events_survival left this list in round 12
    // (Kaplan–Meier now rides the chained range-partitioned cumsum);
    // nothing may join it silently.
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LogicalPlan}
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def bounded(p: LogicalPlan): Boolean =
      p.collectFirst { case g: GlobalLimit => g }.nonEmpty
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }.nonEmpty
    }
    val allowed = Set[String](
      // O(arms) Benjamini–Hochberg ladder (Experiment.scala) — one row per
      // experiment arm
      "q_bh_fdr",
      // O(sources) water-filling allocation (Curate.scala) — one row per
      // SOURCE, a config-scale constant
      "q_budget_waterfill",
      // O(languages) temperature-flattening fractions (Splits.scala)
      "q_temperature_mix",
      // cumulative window over the O(deciles)=10 aggregate, below the
      // distributed ntile — the user frame never sorts globally
      "q_lift_table",
      // lag / cumsum over the O(days) daily aggregate — calendar-bounded
      // (thousands of rows at ANY corpus size)
      "q_period_over_period",
      "events_user_growth",
      // SIZE-GATED: unpartitioned ntile windows appear only on the
      // measured-≤5M-row branch of Ranking.withGlobalNtiles (at this SF
      // the gate picks the local plan); above the gate the distributed
      // ntile runs — RankingSpec pins both branches identical
      "q_rfm"
    )
    assert(offenders.toSet.subsetOf(allowed) && allowed.subsetOf(offenders.toSet),
      s"unpartitioned-unbounded-window audit drift: found ${offenders.mkString(", ")}; " +
        s"pinned ${allowed.mkString(", ")}")
  }

  test("q13 pre-aggregates orders before the customer join (no per-order join rows)") {
    val p = plan("q13_custdist")
    // the aggregate must sit BELOW the left join: the join's right side is
    // the already-grouped O(customers) frame, and the priority filter is
    // pushed into the orders scan
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority), Not(EqualTo(o_orderpriority,1-URGENT))"),
      s"priority filter not pushed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q4 EXISTS compiles to a semi join, never a per-row subquery") {
    val p = plan("q4_priority_exists")
    assert(p.contains("LeftSemi"), s"expected LeftSemi:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_ks_test / events_concurrency window only by the range-partition id") {
    for (n <- Seq("q_ks_test", "events_concurrency")) {
      val p = plan(n)
      // the cumsum scaffold partitions its window by _pid — a global
      // (unpartitioned) running-sum window would be a single-task sort
      assert(p.contains("windowspecdefinition(_pid"),
        s"$n window lost its _pid partitioning:\n$p")
    }
  }

  test("q_assoc_triples stays on equi-joins (closure prunes, no cartesian)") {
    // the three Apriori closure semi-joins may legally rewrite to inner
    // hash joins (the frequent-pair frame is distinct-keyed); what must
    // never appear is a cartesian in the lattice walk — the only permitted
    // nested-loop is the deliberate one-row n_orders broadcast scalar
    // (formatted explain prints each node twice: tree + detail)
    val p = plan("q_assoc_triples")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_burst keeps the RANGE frame partitioned per user") {
    val p = plan("events_burst")
    assert(p.contains("windowspecdefinition(user_id"),
      s"burst window must partition by user_id:\n$p")
  }

  test("q6 pushes the range predicates into the parquet scan") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      p.contains("LessThanOrEqual(l_discount,0.07)") &&
      p.contains("LessThan(l_quantity,24.0)"),
      s"range predicates not pushed:\n$p")
  }

  test("q10 pushes the returnflag filter and ends in TakeOrderedAndProject") {
    val p = plan("q10_returned_revenue")
    assert(p.contains("EqualTo(l_returnflag,R)"), s"returnflag not pushed:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("r1 point lookup pushes the predicate into the parquet scan") {
    val p = plan("r1_point_lookup")
    // the name filter is derived from p_partkey format_string, so the scan
    // must at least prune columns to the two used
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_type:string>"))
  }

  test("r4 search ends in TakeOrderedAndProject (top-k, no global sort)") {
    val p = plan("r4_search")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("r4 search FINAL adaptive plan broadcasts the obs hit-set join") {
    // the static explain can show a SortMergeJoin that AQE converts to a
    // broadcast join once the reduced obs hit set's true size is known —
    // pin the FINAL plan so a stats regression to a real shuffle join
    // (the per-query cost cliff at scale) can't hide behind the conversion
    val whole = finalPlan("r4_search")
    // the adaptive explain prints Final AND Initial plans — assert on the
    // final section only (the initial SMJ is exactly what AQE converts)
    val p = whole.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"),
      s"r4 final plan must broadcast the hit set:\n$whole")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"r4 final plan must not shuffle-join:\n$whole")
  }

  test("r7 recency top-k is TakeOrderedAndProject") {
    assert(plan("r7_recent").contains("TakeOrderedAndProject"))
  }

  test("r8 edge lookup avoids nested-loop join (single scan + broadcast flag joins)") {
    val p = plan("r8_edges")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // one relations scan, membership via broadcast-hash left joins
    // (formatted explain lists every node twice: tree + detail section)
    assert(p.contains("BroadcastHashJoin"))
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1,
      s"r8 must scan relations once:\n$p")
  }

  test("r10 builds the searched hit set once (runtime exchange reuse)") {
    // the two membership flag-joins broadcast the SAME canonicalized search
    // plan; AQE must materialize it once and reuse it, or the whole search
    // runs twice
    val p = finalPlan("r10_search_nodes")
    assert(p.contains("ReusedExchange") ||
      "\\(\\d+\\) TakeOrderedAndProject".r.findAllIn(p).size == 1,
      s"r10 must not evaluate the search subtree twice:\n$p")
  }

  test("q1 aggregation has map-side partial aggregation") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"))
    // partial + final pairs: two HashAggregate levels around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q3 join keeps the filtered dimension on the broadcast side") {
    val p = plan("q3_top_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("flagship queries stay inside WholeStageCodegen") {
    Seq("q1_agg", "r4_search", "text_quality", "dedup_simhash").foreach { q =>
      assert(finalPlan(q).contains("codegen id"), s"$q lost codegen")
    }
  }

  test("scans prune columns: q1 reads only the 5 referenced lineitem columns") {
    val p = plan("q1_agg")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_returnflag:string,l_linestatus:string>"))
  }

  test("q_sample_group plans bounded partial top_k agg + broadcast threshold join") {
    val p = plan("q_sample_group")
    // the TypedImperativeAggregate must run partial+final (map-side state ≤k
    // coords per group) and the tiny threshold table must broadcast — a
    // SortMergeJoin or window sort here would shuffle the whole table
    assert(p.contains("top_k"), s"missing top_k agg:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"top_k must have partial+final aggregate levels:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"thresholds must broadcast:\n$p")
    assert(!p.contains("Window"), s"sampler must not fall back to a window sort:\n$p")
  }

  test("events_rolling: the window runs off ONE hash shuffle") {
    val p = plan("events_rolling")
    assert(p.contains("Window"))
    // exactly two exchanges: one hash (the per-user window partitioning) and
    // one range (the declared query's output orderBy — not the operator)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 2,
      s"rolling agg should have exactly window-hash + output-sort exchanges:\n$p")
    assert(p.contains("hashpartitioning") && p.contains("rangepartitioning"),
      s"expected one hash (window) and one range (output sort) exchange:\n$p")
  }

  test("q_fuzzy_match is scan -> top-k, no join or shuffle beyond the final cut") {
    val p = plan("q_fuzzy_match")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must be TakeOrdered:\n$p")
    assert(!p.contains("Join"), s"fuzzy match must be a single scan:\n$p")
  }

  test("q_skyline sweep is distributed: the window partitions by _pid, never globally") {
    val p = plan("q_skyline")
    // per-partition sweep window, seeded by the broadcast prefix maxima
    assert(p.contains("windowspecdefinition(_pid"), s"window must partition by _pid:\n$p")
    // a windowspec whose FIRST argument is the order column = empty
    // partition spec = the single-partition global sweep this operator bans
    assert(!p.contains("windowspecdefinition(p_retailprice"),
      s"global unpartitioned window crept back in:\n$p")
  }

  test("q_ntile deciles are distributed: the rank window partitions by _pid, never globally") {
    val p = plan("q_ntile")
    assert(p.contains("windowspecdefinition(_pid"), s"rank window must partition by _pid:\n$p")
    // a windowspec whose FIRST argument is the sort column = empty partition
    // spec = ntile's all-rows-to-one-task sort this operator replaces
    assert(!p.contains("windowspecdefinition(o_totalprice"),
      s"global unpartitioned window crept back in:\n$p")
  }

  test("q_abc_analysis running share is distributed: cumsum window partitions by _pid") {
    val p = plan("q_abc_analysis")
    assert(p.contains("windowspecdefinition(_pid"), s"cumsum window must partition by _pid:\n$p")
    assert(!p.contains("windowspecdefinition(rev"),
      s"global unpartitioned window crept back in:\n$p")
  }

  test("q_entity_match blocks on an equi-join — never a cartesian/nested-loop pairing") {
    val p = plan("q_entity_match")
    // the blocking key must drive a hash-based equi-join; levenshtein runs
    // as a post-join filter on the within-block candidates only
    assert(!p.contains("CartesianProduct"), s"blocked matcher went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"blocked matcher went nested-loop:\n$p")
    assert(p.contains("levenshtein"), s"edit distance must gate candidates:\n$p")
  }

  test("text_bm25 broadcasts the df/corpus stats — the token stream shuffles once") {
    val p = plan("text_bm25")
    // tf is the only big aggregation; df + corpus stats ride broadcasts and
    // the final top-20 is TakeOrdered, not a global sort
    assert(p.contains("BroadcastHashJoin"), s"stats must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must be TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"scalar stats must broadcast, not cross:\n$p")
  }

  test("q5 six-table star join broadcasts the dimensions") {
    val p = plan("q5_revenue_by_nation")
    // region/nation/supplier/customer must ride broadcast-hash joins; the
    // planner may only shuffle the fact-side aggregation
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"q5 dimensions must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q5 must stay equi-join only:\n$p")
  }

  test("q_dpp_join prunes fact partitions at runtime via dynamic pruning") {
    val p = plan("q_dpp_join")
    // the 'hot' filter lives only on the dim side; the fact scan must carry
    // a dynamicpruningexpression in its PartitionFilters so non-hot
    // event_type directories are skipped at runtime, not scanned
    assert(p.contains("dynamicpruning"),
      s"fact scan lost dynamic partition pruning:\n$p")
    assert(p.contains("PartitionFilters"), p)
  }

  test("q9 five-relation profit join broadcasts part and supplier-nation") {
    val p = plan("q9_profit_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"q9 dimensions must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q9 must stay equi-join only:\n$p")
    // the name filter must reach the part scan
    assert(p.contains("StringContains(p_name,gear)"),
      s"p_name filter not pushed:\n$p")
  }

  test("q16 NOT IN exclusion is a broadcast anti-join before the part join") {
    val p = plan("q16_supplier_variety")
    assert(p.contains("LeftAnti"), s"expected LeftAnti:\n$p")
    assert(p.contains("In(p_size, [1,16,25,36,4,49,9])") ||
      p.contains("In(p_size"), s"p_size IN-list not pushed:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q20 half-sum threshold stays map-side; survivors semi-join the dim") {
    val p = plan("q20_heavy_recent")
    assert(p.contains("LeftSemi"), s"expected LeftSemi joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q20 must stay equi-join only:\n$p")
  }

  test("q_regression is one scan with partial aggregation and full column pruning") {
    val p = plan("q_regression")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1,
      s"regression must read lineitem once:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"decimal sums must combine map-side:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_returnflag:string>"),
      s"scan must prune to the 3 referenced columns:\n$p")
  }

  test("ann_pq_adc probes via broadcast LUT joins and reads raw vectors only for the probe set") {
    val p = plan("ann_pq_adc")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ADC scoring must be equi-join only:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the O(Q·m·K) LUT must broadcast:\n$p")
    // exactly one scan touches the embedding column (the 32-row query set);
    // the corpus contributes ONLY its persisted code table
    assert("embedding:array".r.findAllIn(p).size == 1,
      s"only the probe set may read raw vectors:\n$p")
  }

  test("q_temperature_mix joins the corpus by broadcast — no sort-merge shuffle of the rows") {
    val p = plan("q_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), s"rate table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the keep decision must stay map-side on the corpus:\n$p")
    // documents is read twice by design (count pass + corpus pass), no more
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 2,
      s"exactly the count pass and the corpus pass:\n$p")
  }

  test("graph_resource_alloc pairs via equi-joins, ends in TakeOrdered — never all-pairs") {
    val p = plan("graph_resource_alloc")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"RA pairing must stay keyed on the shared basket:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must be TakeOrdered:\n$p")
  }

  test("q_assoc_rules: degree/corpus stats join by hash or broadcast, no cartesian blowup") {
    val p = plan("q_assoc_rules")
    assert(!p.contains("CartesianProduct"), s"rule mining went all-pairs:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must be TakeOrdered:\n$p")
  }

  test("text_keywords: df stats and the corpus-size scalar broadcast into the scoring join") {
    val p = plan("text_keywords")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"stats must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"scalar must broadcast, not cross:\n$p")
  }

  test("q_leakage_safe_split: label join is size-gated — no forced broadcast of a corpus-proportional frame") {
    // labels is O(dup docs): a forced broadcast hint would OOM at 100 TB.
    // Without the hint the planner still broadcasts at this tiny SF via
    // size estimates (fine — estimates grow with the data, hints don't),
    // so the pin is on the HINT, not on the static join strategy.
    assert(forcedBroadcasts("q_leakage_safe_split") == 0,
      "label frame must not carry a broadcast hint — it is corpus-proportional")
    val p = plan("q_leakage_safe_split")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"label join must stay keyed:\n$p")
  }

  test("text_lm_score / text_collocations: corpus-aggregate joins carry no broadcast hint") {
    // c12 (distinct bigrams) and c1/c2 (vocabulary marginals) grow with
    // the corpus — a broadcast HINT on them overrides size estimation and
    // OOMs at 100 TB. Only the deliberate 1-row scalar (vocab / tot) may
    // keep its hint, so the forced-broadcast count must be exactly 1.
    for (n <- Seq("text_lm_score", "text_collocations")) {
      assert(forcedBroadcasts(n) == 1,
        s"$n: only the 1-row scalar may be hint-broadcast")
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n: the scalar must ride a broadcast, not a cartesian:\n$p")
    }
  }

  test("dedup_semdedup: pairs stay cell-keyed — never a cartesian, no forced broadcast of assignments") {
    val p = plan("dedup_semdedup")
    // the within-cell self-join must be an equi-join on centroid_id; the
    // only nested-loop allowed is the deliberate centroid broadcast inside
    // assignToCentroids (bounded k)
    assert(!p.contains("CartesianProduct"), s"cell pairs must be keyed:\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"the cell self-join must be a keyed join:\n$p")
    // the assignment frame is corpus-sized and settled once: the only
    // permitted hint is the bounded centroid broadcast inside the (single)
    // assignment evaluation
    assert(forcedBroadcasts("dedup_semdedup") <= 1,
      "corpus-sized assignment frame must not be hint-broadcast")
  }

  test("text_ccnet_buckets: rank-in-language windows only by the cumsum partition id") {
    val p = plan("text_ccnet_buckets")
    // the per-language rank must ride the range-partitioned cumsum
    // scaffold (windows keyed by _pid), never a per-language window whose
    // biggest language would be one task
    assert(p.contains("windowspecdefinition(_pid"),
      s"rank must come from the distributed cumsum:\n$p")
    assert(!p.contains("windowspecdefinition(lang#"),
      s"per-language window sort detected:\n$p")
  }

  test("graph_assortativity stays keyed — degree joins never go cartesian") {
    val p = plan("graph_assortativity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"endpoint-degree attachment must be equi-joins:\n$p")
  }

  test("text_source_divergence: capped token set and marginals broadcast into the cells") {
    val p = plan("text_source_divergence")
    assert(p.contains("BroadcastHashJoin"),
      s"the top-30 token cap and rt/ct marginals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastExchange"),
      s"only the 1-row grand-total scalar may cross:\n$p")
  }

  test("events_autocorr: six lag joins off ONE settled series — a single events scan") {
    val p = plan("events_autocorr")
    // the series is localCheckpointed, so the fact table appears zero times
    // in the plan (the scan happened at checkpoint time) — the six
    // self-joins read the checkpoint, not six re-scans of events
    assert(!p.contains("events.parquet"),
      s"lag pairs must read the settled series, not re-scan the facts:\n$p")
  }

  test("q17/q2: the correlated-subquery rewrites broadcast their per-part frames") {
    for (n <- Seq("q17_small_qty", "q2_cheapest_supplier")) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"),
        s"$n: per-part aggregate / filtered part dim must broadcast:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$n grew a nested-loop join:\n$p")
    }
  }

  test("q21: sole-late-supplier windows partition by order — never a global sort") {
    val p = plan("q21_late_sole")
    assert(p.contains("windowspecdefinition(l_orderkey"),
      s"q21 window lost its per-order partitioning:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_percent_rank / q_mannwhitney: rank machinery windows only by the partition id") {
    for (n <- Seq("q_percent_rank", "q_mannwhitney")) {
      val p = plan(n)
      assert(p.contains("windowspecdefinition(_pid"),
        s"$n rank cumsum lost its _pid partitioning:\n$p")
    }
  }

  test("ann_hamming_rerank: queries broadcast; the Hamming scan never shuffles the corpus") {
    val p = plan("ann_hamming_rerank")
    assert(p.contains("BroadcastExchange"), s"query side must broadcast:\n$p")
    // the corpus-side bit table reaches the scorer without an Exchange on
    // the candidate rows: the only allowed exchanges are broadcasts and the
    // O(queries·shortlist) rerank joins
    assert(!p.contains("CartesianProduct"),
      s"the bit-table scan must be the broadcast cross, not a cartesian:\n$p")
  }

  test("q_approx_topk: broadcast CMS probe, two scans, top-k without a global sort") {
    val p = plan("q_approx_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must be TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the <=4*8192-cell sketch must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"probe join must not shuffle:\n$p")
    val scans = "Scan parquet".r.findAllIn(p.split("\\(1\\) Scan").head).length
    assert(scans <= 2, s"expected cells scan + candidate scan only, got $scans:\n$p")
  }

  test("fixpoint round steps: one shared per-round plan; the convergence probe adds no data shuffle") {
    // Each fixed-round (oracle-replayable) operator and its *Converged
    // entry point run ONE private body through the one round loop,
    // Settle.fixpoint, with the SAME round-step function — kCorePeelRound,
    // lpaRound, ssspRelaxRound, trussPeelRound — so their per-round plans
    // are identical BY CONSTRUCTION; the converged form only adds its exit
    // test. This test pins the two halves of that contract against
    // regression: (a) the shared round step keeps its scale shape —
    // broadcast joins against the cached adjacency, the aggregation
    // reusing the adjacency's repartition key, never a sort-merge join or
    // a second data exchange; (b) the convergence probe (the only thing
    // the converged form ADDS per round) plans zero hash-partitioned
    // exchange — just a broadcast join over two O(V) checkpointed frames
    // and the count's single-partition collapse.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.operators.GraphAnalytics
    def simple(df: DataFrame): String = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    val e = (1L to 40L).map(i => (i, i % 37 + 1)).toDF("u", "v")
    val adj = e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b")))
      .repartition(col("a")).cache()
    val surv = adj.select(col("a").as("node")).distinct().localCheckpoint(true)
    val bc = (df: DataFrame) => broadcast(df)

    // (a) the shared kCore peel round: two broadcast SEMI joins, and the
    // degree groupBy reuses the adjacency's hash partitioning — the ONLY
    // hashpartitioning exchange is the adjacency's one-time repartition
    val peel = simple(GraphAnalytics.kCorePeelRound(adj, surv, 2, bc))
    assert(!peel.contains("SortMergeJoin"), s"peel round shuffled:\n$peel")
    assert("BroadcastHashJoin".r.findAllIn(peel).length == 2,
      s"expected 2 broadcast semi-joins:\n$peel")
    // everything ABOVE the cached adjacency (whose own one-time repartition
    // legitimately prints inside the InMemoryRelation subtree) must add
    // zero exchanges: the degree groupBy reuses the cache's partitioning
    val aboveCache = peel.split("InMemoryRelation").head
    assert(!aboveCache.contains("Exchange hashpartitioning"),
      s"peel round added a data exchange beyond the cached repartition:\n$peel")
    adj.unpersist(false)

    // (b) the LPA convergence probe over two checkpointed label frames:
    // broadcast equi-join + count only — no hashpartitioning exchange at all
    val l1 = (1L to 40L).map(i => (i, i % 7)).toDF("node", "lbl").localCheckpoint(true)
    val l2 = (1L to 40L).map(i => (i, i % 5)).toDF("node", "lbl").localCheckpoint(true)
    val probe = l2.join(bc(l1.withColumnRenamed("lbl", "prev_lbl")), Seq("node"))
      .filter(col("lbl") =!= col("prev_lbl"))
      .groupBy().count()
    val pp = simple(probe)
    assert(!pp.contains("SortMergeJoin") &&
      !pp.contains("Exchange hashpartitioning"),
      s"convergence probe must not shuffle data:\n$pp")
    assert(pp.contains("Exchange SinglePartition") || pp.contains("partial_count") ||
      pp.contains("count"), s"probe should be a plain count:\n$pp")
  }

  test("lpa round: zero data exchange under the broadcast gate; packed single-long census past it") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.operators.GraphAnalytics
    def simple(df: DataFrame): String = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    val e = (1L to 40L).map(i => (i, i % 37 + 1)).toDF("u", "v")
    val sym = e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b")))
    val labels = sym.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint(true)
    // UNDER the gate: adjacency partitioned on the aggregation key `a`,
    // labels broadcast — both groupBys reuse the cache partitioning, so the
    // whole round plans ZERO data exchanges above the cached repartition
    // (the r16 zero-exchange claim, now pinned instead of asserted in prose)
    val adjA = sym.repartition(col("a")).cache()
    // materialize the cache first — the loops always do (the init settle
    // runs over it); an unfilled adaptive cached plan hides its output
    // partitioning from the consumer and the reuse never triggers
    adjA.count()
    val under = simple(GraphAnalytics.lpaRound(adjA, labels, broadcast(_)))
    assert(!under.contains("SortMergeJoin"), s"under-gate round shuffled:\n$under")
    val aboveCache = under.split("InMemoryRelation").head
    assert(!aboveCache.contains("Exchange hashpartitioning"),
      s"under-gate LPA round must add zero data exchanges:\n$under")
    adjA.unpersist(false)
    // PAST the gate (labels not broadcast): the O(E) census key packs into
    // ONE long — the first aggregate's grouping and exchange key on the
    // shuffled path, unpacked exactly afterwards (r17, guide §2.3)
    val adjB = sym.repartition(col("b")).cache()
    val packed = simple(GraphAnalytics.lpaRound(adjB, labels, identity, packIds = true))
    assert(packed.contains("hashpartitioning(al"),
      s"packed round must aggregate on the single packed key:\n$packed")
    // the node unpack (al div 2^31) is aliased into a _groupingexpression in
    // simple mode — the mod unpack inside the min(struct) stays visible
    assert(packed.contains("% 2147483648"),
      s"packed round must unpack the label with exact mod:\n$packed")
    adjB.unpersist(false)
  }

  test("text_dsir: bucket histograms broadcast back — the corpus shuffles once for the count") {
    val p = plan("text_dsir")
    // the scoring join of (doc, bucket) counts against the 512-row
    // log-ratio table must be broadcast — a sort-merge there would
    // re-shuffle the whole corpus by feature bucket
    assert(p.contains("BroadcastHashJoin"), s"lr join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no SMJ anywhere in text_dsir:\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"totals must broadcast:\n$p")
  }

  test("text_gopher_rules: map-only — no exchange beyond the output sort, one scan") {
    val p = plan("text_gopher_rules")
    // formatted mode spells exchange kinds in Arguments: lines
    assert(!p.contains("hashpartitioning"),
      s"rule battery must not hash-shuffle:\n$p")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1,
      s"exactly one documents scan:\n$p")
  }

  test("dedup_winnow_pairs: candidate join is hash, never sort-merge or nested-loop") {
    val p = plan("dedup_winnow_pairs")
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"fp self-join must be a hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no all-pairs path:\n$p")
  }

  test("mm_scene_cuts: the lag window shuffles hashes per video, never pixels") {
    val p = plan("mm_scene_cuts")
    // exactly one hashpartitioning exchange (doc_id for the window); the
    // decode stage itself is per-partition map work
    val n = "hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected 1 window exchange, got $n:\n$p")
  }

  test("q_rfm: quintile windows run over the aggregated customer frame only") {
    // the EXECUTED plan (formatted explain of an AQE plan appends the
    // pre-execution "Initial Plan" — slice it off before counting)
    val full = finalPlan("q_rfm")
    val p = full.split("Initial Plan").head
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2,
      s"expected one orders scan for the aggregate + one for the max-date scalar, got $scans:\n$p")
    assert(!p.contains("CartesianProduct"), s"the reference-date scalar must broadcast:\n$p")
  }

  test("q_cuped / q_psi: one events lineage — pooled stats derive from the tiny frame") {
    for (n <- Seq("q_cuped", "q_psi")) {
      val p = plan(n)
      // the O(arms)/O(bins) frame is materialized once (ExistingRDD); the
      // events parquet never appears twice in the final query's plan
      assert(p.contains("Scan ExistingRDD"), s"$n lost its materialization:\n$p")
      assert(!p.contains("Scan parquet"),
        s"$n replays the events lineage per consumer:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$n: scalar join must broadcast:\n$p")
    }
  }

  test("q_bootstrap_ci: one scan, replicate explosion fused into the partial agg") {
    val p = plan("q_bootstrap_ci")
    val tree = p.split("\n\n").head // formatted explain repeats nodes in detail
    assert("Scan parquet".r.findAllIn(tree).length == 1, s"one lineitem scan:\n$p")
    // exactly three exchanges: the under-split-scan fan-out (r16 —
    // Parallelism.fanOutScan, a round-robin of the PRE-explosion rows),
    // the 32-key aggregate, and the output sort — B×rows never shuffles
    val n = "Exchange".r.findAllIn(tree).length
    assert(n == 3, s"expected fan-out + agg + sort exchanges only, got $n:\n$p")
    // the fan-out must sit BELOW the replicate explosion (it moves the
    // compact source rows, never the B× stream)
    assert(p.contains("RoundRobinPartitioning"),
      s"fan-out repartition missing:\n$p")
    assert(!p.contains("Join"), s"bootstrap is join-free:\n$p")
  }

  test("dedup_prefix_filter: hash candidate join, shingled base materialized once") {
    val full = finalPlan("dedup_prefix_filter")
    val p = full.split("Initial Plan").head
    assert(p.contains("ShuffledHashJoin"), s"candidate join must stay hash:\n$p")
    // the shingled base is localCheckpoint'ed for its three consumers
    // (df counts, prefix build, verification sets): every consumer reads
    // the materialized RDD, nothing re-shingles the corpus
    assert(p.contains("Scan ExistingRDD"),
      s"the shingled base must be checkpointed, not re-shingled per consumer:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no all-pairs path anywhere:\n$p")
  }

  test("search_eval: rank windows partition by query — never a global sort") {
    val p = plan("search_eval")
    assert(p.contains("windowspecdefinition(query"),
      s"windows must partition by the query key:\n$p")
    assert(!p.contains("windowspecdefinition(iscore"),
      s"unpartitioned window detected:\n$p")
  }

  test("stream_conv_outer: event-type filters pushed to both scan sides") {
    val p = plan("stream_conv_outer")
    assert(p.contains("EqualTo(event_type,signup)"),
      s"signup filter not pushed:\n$p")
    assert(p.contains("EqualTo(event_type,purchase)"),
      s"purchase filter not pushed:\n$p")
  }

  test("q_power_mde / q_bh_fdr: one events scan, family logic on the tiny frame") {
    for (n <- Seq("q_power_mde", "q_bh_fdr")) {
      val p = plan(n)
      val tree = p.split("\n\n").head
      assert("Scan parquet".r.findAllIn(tree).length == 1,
        s"$n must read events exactly once:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$n: nothing may join at data scale:\n$p")
    }
  }

  test("source_orc_events: column pruning reaches the ORC reader") {
    val p = plan("source_orc_events")
    // the aggregate touches 3 of 6 declared columns — props/ts/event_id
    // must not survive into the scan's ReadSchema
    val read = p.split("\n").filter(_.contains("ReadSchema")).mkString
    assert(read.nonEmpty && !read.contains("props") && !read.contains("event_id"),
      s"ORC scan reads unprojected columns:\n$read")
  }
  test("text_lrs_probe reads only the batch's suffix-index buckets") {
    val p = plan("text_lrs_probe")
    // the index scan must carry a bucket IN-list partition filter — the
    // probe's whole cost model is "touched buckets only", and losing the
    // filter silently degrades to a full index read
    assert(p.contains("PartitionFilters") && p.contains("bucket"),
      s"suffix-index scan lost its bucket partition filter:\n$p")
    // lcp windows are partitioned by bucket — never a global window — and
    // the bounds join is the O(buckets) broadcast range join, so the one
    // permissible nested-loop join is that broadcast
    assert(!p.contains("CartesianProduct"), p)
  }
}
