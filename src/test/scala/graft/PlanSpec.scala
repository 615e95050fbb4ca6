package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the plan *shape* is part of the
  * engine's contract at 100 TB (SURVEY §4) — pushdown reaching the scan,
  * dimension joins broadcasting, top-K planning as TakeOrdered, aggregates
  * running partial+final. These fail if a refactor silently de-optimizes.
  */
class PlanSpec extends AnyFunSuite with SharedSpark {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q2: filters are pushed to the parquet scan; scan is pruned") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: ["), "no pushed filters on scan")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("l_shipdate"),
      "shipdate filter not pushed")
    // pruned read schema: no l_tax / l_returnflag etc in the scan
    assert(!p.contains("l_tax"), "scan reads unused column l_tax")
  }

  test("q3: all dimension joins broadcast; no sort-merge join") {
    val p = plan("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins")
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to sort-merge")
  }

  test("q6: top-K plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q6_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-K not planned as TakeOrdered")
  }

  test("q1: hash aggregate runs partial then final (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), "no hash aggregate")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "missing partial aggregation")
  }

  test("IVF assign: one narrow projection — no exchange, no join, no window") {
    val e = graft.core.Catalog(spark, sf).embeddings
    val cents = graft.ext.AnnIvf.centroids(e, nCells = 4)
    val p = graft.ext.AnnIvf.assign(e, cents).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assign stage shuffles:\n$p")
    assert(!p.contains("Join"), s"assign stage joins:\n$p")
    assert(!p.contains("Window"), s"assign stage uses a window:\n$p")
  }

  test("q48: as-of join plans join-free — one key exchange, no range probe") {
    val p = plan("q48_asof_join")
    assert(!p.contains("Join"), s"as-of formulation planned a join operator:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "as-of fell back to a product plan")
    assert("hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one key shuffle:\n$p")
    assert(p.contains("Window"), "carry-forward window missing")
  }

  test("q49: spine join never plans a product; purchase filter is pushed") {
    val p = plan("q49_resample_ffill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"spine join planned as a product:\n$p")
    assert(p.contains("PushedFilters: ["), "event_type filter not pushed to scan")
    assert(!p.contains("props"), "scan reads unused column props")
  }

  test("q50: both SCD2 windows share one user-key sort (no second exchange+sort)") {
    val p = plan("q50_scd2_intervals")
    // lag-filter, lead, and row_number all ride the same (user_id, ts,
    // event_id) partitioning+order: exactly one exchange, one sort
    assert("hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one key shuffle:\n$p")
    assert("Sort ".r.findAllIn(p).size <= 2, s"windows re-sorting:\n$p")
  }

  test("t13: per-doc top-k prunes map-side via WindowGroupLimit; N joins broadcast") {
    val p = plan("t13_tfidf")
    assert(p.contains("WindowGroupLimit"), s"rk<=k not planned as WindowGroupLimit:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "corpus-size scalar not broadcast")
    assert(!p.contains("CartesianProduct"), "scalar join planned as a cartesian")
  }

  test("t14: bloom position set broadcasts; probe never sort-merges on bit positions") {
    val p = plan("t14_bloom")
    assert(p.contains("BroadcastHashJoin"), s"bloom join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "bloom probe planned as a product")
  }

  test("g1: supersteps materialize — final plan reads the checkpointed ranks, top-K TakeOrdered") {
    val p = plan("g1_pagerank")
    assert(p.contains("TakeOrderedAndProject"), "top-K ranks not planned as TakeOrdered")
    // the final superstep is a localCheckpoint (ContextCleaner-managed;
    // CacheHygieneSpec) — ranking must read the materialized RDD, never
    // replan the whole superstep history
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"final superstep not materialized — ranking replans the whole history:\n$p")
    assert(!p.contains("CartesianProduct"), s"pagerank planned a cartesian:\n$p")
  }

  test("g4: supersteps materialize — final plan reads the checkpointed labels, no cartesian") {
    val p = plan("g4_label_prop")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"final superstep not materialized — ordering replans the whole history:\n$p")
    assert(!p.contains("CartesianProduct"), s"label prop planned a cartesian:\n$p")
  }

  test("q53: range-frame features are join-free — two key exchanges, no spine") {
    val p = plan("q53_trailing_window")
    assert(!p.contains("Join"), s"trailing window planned a join:\n$p")
    // (user, day) aggregation shuffle + user window shuffle — nothing more
    assert("hashpartitioning".r.findAllIn(p).size == 2,
      s"expected exactly two key shuffles:\n$p")
  }

  test("q55: sufficient statistics aggregate partial then final; one exchange") {
    val p = plan("q55_exact_stats")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "missing map-side combine")
    assert(!p.contains("Join"), "stats pass should not join")
  }

  test("q56: funnel stages join on the user key only — no product plans") {
    val p = plan("q56_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"funnel planned a product join:\n$p")
  }

  test("ETL: base filters reach the lineitem scan; dimension joins broadcast") {
    val weekly = plan("q32_etl_weekly")
    assert(weekly.contains("PushedFilters: ["), "no pushed filters on ETL base scan")
    assert(weekly.contains("l_quantity") && weekly.contains("l_discount"),
      "outlier filters not pushed to the scan")
    val item = plan("q34_etl_item")
    assert(item.contains("BroadcastHashJoin"), "part dimension join not broadcast in q34")
    val coupon = plan("q35_coupon_flag")
    assert(coupon.contains("BroadcastHashJoin"), "enrolled-dim join not broadcast in q35")
  }

  test("q37: salted join hashes the probe side and replicates the build side") {
    val p = plan("q37_skew_join")
    assert(p.contains("__salt"), s"no salt column in the salted join plan:\n$p")
    assert(p.contains("xxhash64"), s"probe salt is not the deterministic hash:\n$p")
    assert(p.contains("explode"), s"build side not replicated via explode:\n$p")
  }

  test("d9: benchmark gram set broadcasts; corpus side never sort-merges") {
    // the 100-TB contract for decontamination: the eval suite is small,
    // so the gram probe must plan as a broadcast semi-join — a sort-merge
    // here would shuffle the full corpus gram stream
    val p = plan("d9_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"gram probe is not a broadcast semi-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus grams fell back to sort-merge:\n$p")
  }

  test("d14: gram build is the native one-pass expression, not interpreted lambdas") {
    // the relational transform/md5 form re-splits the document per gram
    // inside a CodegenFallback lambda (it was 7.9 s of d14's sf0.1 cost);
    // the shipped plan must carry the compiled expression instead.
    // pairs() checkpoints its result (the executed plan the registry
    // returns is an RDD scan), so the shape pin reads the
    // pre-materialization compute plan, its gram cache held by the scope:
    val p = core.Materialize.scoped { scope =>
      graft.ext.ContainmentJoin
        .pairsCompute(scope, core.Catalog(spark, sf).documents)
        .queryExecution.executedPlan.toString
    }
    assert(p.contains("word_gram_hashes"), s"native word-gram expression not in plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"containment join went cartesian:\n$p")
  }

  test("d10: one digest-only corpus shuffle; pair verify never sort-merges") {
    // the 100-TB contract for span dedup: the corpus-wide stage ships
    // (hash, doc_id, pos) triples through exactly ONE hash shuffle with
    // map-side partial bucket build; span text is only materialized for
    // the capped pair set, and nothing sort-merges or goes cartesian
    val p = plan("d10_span_dedup")
    assert(p.contains("windowrollinghashes"), s"native grid-hash expression missing:\n$p")
    assert(p.contains("partial_collect_list"),
      s"bucket build missing map-side partial aggregation:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"span dedup should shuffle the corpus exactly once:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"pair verify fell off the broadcast path:\n$p")
  }

  test("d11: removal sites merge per-doc; verify joins broadcast; no cartesian") {
    // span removal rides d10's single corpus bucket shuffle; everything
    // after it must stay on the (small) removal-site stream — interval
    // merging windows partitioned BY DOC, pair-verify joins broadcast,
    // and nothing cartesian. The final corpus⟕intervals join is left to
    // AQE: broadcast when removals are few, shuffle-on-doc_id when
    // boilerplate is corpus-wide — both are the right plan at their scale.
    val p = plan("d11_span_removal")
    assert(p.contains("windowrollinghashes"), s"native grid-hash expression missing:\n$p")
    assert(p.contains("partial_collect_list"),
      s"bucket build missing map-side partial aggregation:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"pair verify fell off the broadcast path:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in span removal:\n$p")
    assert("Window \\[.*windowspecdefinition\\(doc_id".r.findFirstIn(p).isDefined,
      s"interval merge window not partitioned by doc:\n$p")
  }

  test("t3: langId tokenizes once — one TokenMemberCounts in the analysed plan") {
    // the one-pass property must hold by construction, not by whether
    // subexpression elimination fires (interpreted fallback never does)
    val analysed = SparkEntry.queries("t3_langid")(spark, sf).queryExecution.analyzed
    val n = analysed.collect { case node => node.expressions.map(_.collect {
      case e: graft.functions.TokenMemberCounts => e }.size).sum }.sum
    assert(n == 1, s"$n TokenMemberCounts trees in langId's analysed plan:\n$analysed")
  }

  test("t11: grouped top-n prunes map-side via WindowGroupLimit") {
    // rank<=n over a skewed group must NOT ship every group member to
    // one task: Spark 4 plans the filter as per-task top-n heaps
    // (Partial) before the shuffle and a Final pass after — each task
    // ships at most n rows per group regardless of group size
    val p = plan("t11_stratified_take")
    assert("WindowGroupLimit .*Partial".r.findFirstIn(p).isDefined,
      s"no map-side (Partial) WindowGroupLimit:\n$p")
    assert("WindowGroupLimit .*Final".r.findFirstIn(p).isDefined,
      s"no Final WindowGroupLimit:\n$p")
  }

  test("t6/c3: per-row corpus ops plan without any exchange") {
    // repetition scoring and mixture sampling are pure projection/filter
    // — any Exchange means a regression re-introduced a shuffle
    // c5's epoch explode is a narrow Generate — upsampling must never
    // shuffle either
    for (q <- Seq("t6_repetition", "c3_mixture_sample", "c5_mixture_epochs",
                  "c7_curriculum")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("t8: vocab top-K plans as TakeOrderedAndProject with partial aggregation") {
    val p = plan("t8_vocab")
    assert(p.contains("TakeOrderedAndProject"), s"vocab top-K globally sorts:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"token count missing map-side combine:\n$p")
  }

  test("c4: packing window partitions by shard — never a single-partition sort") {
    // the scale contract: packing parallelizes across shards; a window
    // without the shard partition spec would pull the corpus through one
    // task for a global cumulative sum
    val p = plan("c4_pack_sequences")
    assert(p.contains("hashpartitioning(shard"),
      s"packing window is not shard-partitioned:\n$p")
    assert(!p.contains("SinglePartition"), s"global window detected:\n$p")
  }

  test("t17/q59: running totals window is bucket-partitioned, never the data in one task") {
    // Cumulative's contract: the only SinglePartition window runs over
    // the ≤ #buckets totals frame; the DATA window partitions by _b
    for (q <- Seq("t17_ks_drift", "q59_global_index", "q61_quantile_bins")) {
      val p = plan(q)
      assert(p.contains("hashpartitioning(_b"),
        s"$q data window is not bucket-partitioned:\n$p")
    }
  }

  test("q58: keyless interval join plans as a hash join on the grid cell") {
    // without the grid the only plan is BroadcastNestedLoopJoin /
    // CartesianProduct — quadratic at scale
    val p = plan("q58_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("HashJoin"), s"no hash join on the cell id:\n$p")
  }

  test("q63/d13: pair generators are equi-joins — no nested loop, no cartesian") {
    // q63's sliding distinct must come from the bounded contribution
    // fan-out (Generate + hash agg), never a day-range theta join; d13's
    // candidates must come from the segment equi-join, never all-pairs
    for (q <- Seq("q63_sliding_distinct", "d13_fuzzy_join")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q nested loop:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
    }
    assert(plan("q63_sliding_distinct").contains("Generate"),
      "q63 lost the explode-contribution shape")
  }

  test("q1: aggregation stays in whole-stage codegen") {
    // CodegenMode explain can't see through an un-executed AdaptiveSparkPlan,
    // so assert with AQE off (codegen itself is independent of AQE)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q1_agg")(spark, sf)
      val p = df.queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
      assert(!p.startsWith("Found 0 WholeStageCodegen"), "no codegen subtrees in agg plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
