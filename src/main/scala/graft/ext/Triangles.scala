package graft.ext

import graft.core.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-node triangle counting — the local-clustering primitive (support
  * of a node's neighbourhood, the basis of clustering coefficients and
  * community seeds), counted EXACTLY with the degree-ordered
  * orientation trick.
  *
  * The naive relational form joins the edge list to itself on the
  * shared endpoint and closes the wedge — correct, but the wedge count
  * is Σ deg², quadratic in the hottest node's degree (one celebrity
  * node with 10⁶ neighbours = 10¹² wedges). Orienting every undirected
  * edge from its lower-(degree, id) endpoint to the higher one bounds
  * the ORIENTED out-degree by O(√m) (a node of oriented out-degree k
  * has k neighbours of degree ≥ its own, so deg ≥ k and m ≥ k²/2),
  * which caps wedge generation at Σ outdeg² = O(m^1.5) regardless of
  * skew — the standard scale-out formulation. Each triangle then has
  * exactly ONE spanning wedge (at its lowest-ranked vertex, ends
  * rank-ordered), so no dedup pass and no ×3 correction: the closing
  * lookup is a single equi-join against the oriented list.
  *
  * The oriented edge frame is used three times (two wedge sides + the
  * closing probe), so it is cached — the iterative-family license
  * ([[PageRank]]): a derived frame steering a multi-pass computation,
  * never corpus text.
  *
  * All arithmetic is integer; the oracle replays the same triangle SET
  * from the id-ordered triple join, so the per-node counts hash-gate.
  */
object Triangles {

  /** @param edges directed multigraph as (src, dst) BIGINT columns;
    *              direction, self-loops, and parallel edges are
    *              discarded — triangles live on the simple undirected
    *              graph
    * @return (node, n_triangles) for every node in ≥ 1 triangle,
    *         ordered by node id
    */
  def perNode(edges: DataFrame): DataFrame =
    countUnd(undSimple(edges), bloomLiteralMaxEdges)

  /** [[perNode]] over a PRE-BUILT simple undirected edge set: `und`
    * must hold (u, v) BIGINT columns with u < v and no duplicate rows —
    * the exact frame [[undSimple]] derives from a directed edge list.
    * For callers that can produce that set directly (the co-purchase
    * graph's per-order combination build emits each unordered pair once
    * instead of twice-directed-then-least/greatest-then-distinct), this
    * skips nothing semantically — countUnd treats the input identically
    * — but halves the pre-distinct row volume the caller pays (r20 opt:
    * the und build measured 3.01 -> 1.87 s at sf0.1, OPTIMIZATION_r20.md).
    * Violating the u<v/distinct contract breaks the orientation
    * bijection and the counts; callers are gated by the same DuckDB
    * oracles as the directed form.
    */
  def perNodeOfSimpleUnd(und: DataFrame): DataFrame =
    countUnd(und, bloomLiteralMaxEdges)

  /** [[perNode]] with the closure filter forced onto the partitioned
    * semi-join form — the branch [[countUnd]] auto-selects past
    * [[bloomBroadcastMaxEdges]] oriented edges, exposed directly so the
    * web-scale endgame path is testable (hash-parity vs the Bloom forms
    * in ExtSpec) and measurable (GraphScaleProbe) without synthesizing a
    * 10^8-edge graph (`bench_records/r13_closure_prune_probe.json`).
    */
  private[graft] def perNodeSemiJoinClosure(edges: DataFrame): DataFrame =
    countUnd(undSimple(edges), -1L)

  /** [[perNode]] with the closure filter forced onto the
    * BROADCAST-VARIABLE Bloom pre-prune + semi-join form — the regime
    * [[countUnd]] auto-selects between [[bloomLiteralMaxEdges]] and
    * [[bloomBroadcastMaxEdges]] oriented edges (the r12 verdict's
    * "distributed pre-prune" item, shipped after the r13 probe measured
    * it 1.38×/1.76× faster than the unpruned semi-join/the plan literal
    * at 24M edges, r13_closure_prune_probe.json). Same distributive
    * bloom build as the literal form, but the sketch ships as a
    * torrent-broadcast variable (one copy per EXECUTOR, outside the
    * serialized plan) and evaluates through a scala UDF on a
    * precomputed xxhash64 column; survivors still verify through the
    * shuffled-hash closing join, so false positives cost shuffle bytes,
    * never correctness. Row-identical to both other forms (pinned in
    * ExtSpec next to the semi-join parity law).
    */
  private[graft] def perNodeBroadcastBloomClosure(edges: DataFrame): DataFrame =
    countUnd(undSimple(edges), -2L)

  /** [[perNode]] with the closure filter forced onto the PLAN-LITERAL
    * Bloom form at ANY m (an effectively-infinite `bloomMaxEdges`
    * bound; the regime-2 cap is still respected by the branch order, so
    * this genuinely embeds the sketch as a literal) — probe-only, like
    * the -1/-2 sentinels. Needed because the r16 retune dropped the
    * auto path's literal band to m ≤ [[bloomLiteralMaxEdges]] = 2·10^6,
    * below every synthesizable probe scale: a probe that wants the
    * literal's cost curve above the bound must force it explicitly
    * (the r16 regime-3 probe's 'literal' points, ROUND_NOTES_r17.md, hit
    * regime 2 after the retune — the r16 advisor's finding).
    */
  private[graft] def perNodeLiteralBloomClosure(edges: DataFrame): DataFrame =
    countUnd(undSimple(edges), Long.MaxValue)

  /** Degree-capped exact triangle counts — the 100×-scale companion to
    * [[perNode]]. Exact wedge enumeration is O(m^1.5): the bound is
    * tight exactly when the graph has a dense core (a near-clique of c
    * nodes costs ~c³/4 wedges for c²/2 edges), and at web scale that
    * core alone blows the wall-clock budget. This variant first drops
    * every node whose simple-undirected degree exceeds `maxDegree`,
    * then counts EXACTLY on the induced subgraph: wedge work is bounded
    * by m·maxDegree — LINEAR in the edge count for a fixed cap, any
    * skew — and the result is a well-defined deterministic semantics
    * ("triangles among nodes of degree ≤ D", the standard
    * degree-thresholding used before exact counting at scale), not a
    * sampling estimate, so it hash-gates against a DuckDB replay of the
    * same cap ([[perNodeCappedSqlTail]]). Hot-node triangle mass is the
    * price, stated plainly: a node over the cap reports nothing.
    */
  def perNodeCapped(edges: DataFrame, maxDegree: Long = 128L): DataFrame =
    perNodeCappedOfSimpleUnd(undSimple(edges), maxDegree)

  /** [[perNodeCapped]] over a pre-built simple undirected edge set —
    * same contract and rationale as [[perNodeOfSimpleUnd]].
    */
  def perNodeCappedOfSimpleUnd(und: DataFrame, maxDegree: Long = 128L): DataFrame =
    Materialize.scoped { scope =>
      val und0 = scope.cache(und)
      val deg0 = und0
        .select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg0.where(col("deg") <= maxDegree).select(col("node"))
      val capped = und0
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
      // countUnd materializes its result before returning, so nothing
      // lazy reads und0 once the scope releases it
      countUnd(capped, bloomLiteralMaxEdges)
    }

  /** Above this oriented-edge count the closure filter stops embedding
    * the Bloom sketch as a PLAN LITERAL (see the branch comment in
    * [[countUnd]]). At 1% FPP the serialized filter is ~1.2 MB per
    * million oriented edges (m bits ≈ 9.6m) and the literal ships inside
    * the serialized plan to EVERY task — the r13 probe measured the
    * literal form 1.76× SLOWER than the broadcast-variable form at 24M
    * edges (51.5 s vs 29.3 s, `bench_records/r13_closure_prune_probe
    * .json`), all of it task-binary deserialization of the literal.
    * Retuned r16 after [[closureBloom]] made sketches honest (the old
    * 10^7 bound leaned on a parity measurement taken with silently
    * clamped sketches): with both forms building the same honest
    * sketch, the broadcast form measures FASTER than the literal at
    * every point from m=2.4M up (1.21×/1.24×/1.35× at 2.4/4.8/9.6M,
    * `bench_records/r16_regime1_boundary_probe.json`), and at m ≤ 1.2M
    * all three ladder forms sit within noise (4.0–4.6 s) — so the
    * literal regime keeps only the band where its whole-stage-codegen
    * probe is free to keep (≤ ~2.4 MB of literal) and the bound choice
    * is immaterial to wall-clock.
    */
  private[graft] val bloomLiteralMaxEdges: Long = 2000000L

  /** Above [[bloomLiteralMaxEdges]] and up to this bound the closure
    * prune ships the same distributively-built sketch as a TORRENT
    * BROADCAST (one copy per executor, outside the plan) and evaluates
    * it through a scala UDF in front of the shuffled-hash closing join
    * — measured 1.38× faster than the unpruned semi-join at 24M edges
    * (29.3 s vs 40.5 s, the r13 probe, ≥ the 1.3× ship bar, under
    * HIGHER ambient load), and with honest sketches 1.2×–2.3× faster
    * at m = 12–96M with the margin growing in m
    * (`bench_records/r16_regime3_probe_fixed.json`). 4·10^8 caps the
    * broadcast at ~480 MB —
    * comfortably under Spark's 2 GB broadcast hard limit and a
    * reasonable executor-memory ask at the 100 TB design point; past it
    * the sketch itself becomes the memory problem and the closure
    * becomes the plain partitioned semi-join (no driver/executor
    * materialization of anything, memory bounded by the build side per
    * partition).
    */
  private[graft] val bloomBroadcastMaxEdges: Long = 400000000L

  /** Closure-sketch build: per-partition `util.sketch.BloomFilter`
    * partials folded inside `mapPartitions`, merged by `treeReduce` —
    * NOT `stat.bloomFilter`, which in Spark 4.1 silently clamps the
    * sketch to 64M bits (`spark.sql.optimizer.runtime.bloomFilter
    * .maxNumBits`'s default, applied even to the explicit-numBits
    * overload): at m=10^7 that means 11% FPP instead of the requested
    * 1%, and by m=5·10^7 the sketch saturates to a ~99%-FPP no-op that
    * still pays its build and probe cost — measured live as the
    * regime-2 form's pruned wedge shuffle CONVERGING to the unpruned
    * semi-join's (30.02 GB = 30.02 GB at 96M edges,
    * `bench_records/r16_regime3_probe.json`) and the form running
    * SLOWER than the plain semi-join it is supposed to beat. (Raising
    * the conf un-caps the SIZE but the aggregate still returns a
    * ~98%-FP filter at 5·10^7 keys — the aggregate itself misbehaves
    * past the cap, so the fix routes around it rather than tuning it.)
    * The direct build is honest at every measured size (1.01% FP at
    * 5·10^7 keys) and 2.7× faster than the stat path.
    *
    * Why NOT `treeAggregate(BloomFilter.create(m, 0.01))(...)` (the
    * first r16 shape, the r16 advisor's finding): Spark serializes the
    * zeroValue INTO the per-partition aggregate closure, so the stage's
    * task binary embeds the whole sketch and every task deserializes it
    * — ~480 MB per task at the regime-2 cap, the exact per-task cost
    * the plan-literal regime was demoted for, paid at build time.
    * Creating the partial inside `mapPartitions` keeps every task
    * closure sketch-free (only `m`, a long, is captured).
    *
    * Why NOT `treeReduce` over the partials (the second r17 shape): its
    * final level COLLECTS every surviving partial to the driver through
    * `spark.driver.maxResultSize` — caught live by the r17 ceiling
    * probe at n = 2·10⁸ ("Total size of serialized results of 5 tasks
    * (1153.8 MiB) is bigger than spark.driver.maxResultSize (1024.0
    * MiB)"), i.e. the build worked at every previously measured size
    * and would have died exactly at the regime bound it exists for. So
    * the merge runs EXECUTOR-side down to ONE sketch (repartition(1) +
    * iterator fold — the single merge task streams partials off the
    * shuffle, holding ≤ 2 at once) and the driver receives exactly one
    * sketch, ≤ ~480 MB at the regime-2 cap, under the default 1 GiB
    * maxResultSize by construction.
    *
    * Scale posture: the number of partials is bounded by
    * [[bloomMaxPartials]] (a no-shuffle coalesce when the hash scan has
    * more partitions), so the sketch-sized shuffle into the merge task
    * is ≤ bloomMaxPartials × sketch — a constant in the corpus size.
    * Per-task transient memory: one sketch-sized partial per
    * concurrent build task, 2 in the merge task — the
    * [[bloomBroadcastMaxEdges]] regime bound's executor-memory budget.
    * Measured at the ceiling (`bench_records/r17_sketch_ceiling_probe
    * .json`): bit size exactly optimal (9.59 bits/key), zero false
    * negatives, FP 1.018% / 1.001% at n = 2·10⁸ / 4·10⁸ — the
    * regime-2 bound no longer assumes sketch honesty, it has it
    * measured end-to-end.
    */

  /** Partials bound for [[closureBloom]] — retuned 64 → 16 by direct
    * measurement at the regime-2 ceiling
    * (`bench_records/r18_bloom_merge_probe.json`, n = 4·10⁸, per-stage
    * shuffle telemetry): every partial must be sized for the FULL key
    * count to stay mergeable, so the single merge task deserializes and
    * ORs `partials × 479 MB` regardless of how few keys each holds —
    * merge wall measured LINEAR in the count (41.9 / 113.4 / 161.7 s at
    * 16/32/64; at 64 the merge costs 2× the build scan itself), while
    * the sketch is bit-identical across counts (same bits, FP 1.021%
    * all three — the knob is pure cost tuning). The opposing cost —
    * capping the hash-scan stage at 16 tasks — measured ~free: the fold
    * writes 7 random bits/key into a 479 MB array and is memory-bound,
    * not parallelism-bound (16 tasks: 69.8 s vs 64 tasks: 75.7 s on 32
    * cores). Net: the ceiling build is 2.1× faster at 16 (112 vs
    * 237 s). Shuffled BYTES are sub-linear in the count (sparser
    * partials compress better: 4.9 / 7.1 / 9.5 GB) — bytes understate
    * the merge's deserialize+OR cost 3×, which is why the r17 probe's
    * byte-free telemetry missed this. The 16 is a SINGLE-NODE optimum
    * (the build fold is memory-bus-bound on one machine); the sketch is
    * bit-identical at any partials count, so a caller may pass another.
    */
  private[graft] val bloomMaxPartials: Int = 16

  private[graft] def closureBloom(oriented: DataFrame, m: Long,
      maxPartials: Int = bloomMaxPartials)
      : org.apache.spark.util.sketch.BloomFilter = {
    import oriented.sparkSession.implicits._
    require(maxPartials >= 1, s"closureBloom: maxPartials must be >= 1, got $maxPartials")
    val hashes = oriented.select(expr("xxhash64(src, dst)")).as[Long].rdd
    val bounded =
      if (hashes.getNumPartitions > maxPartials)
        hashes.coalesce(maxPartials)
      else hashes
    bounded
      .mapPartitions { it =>
        val f = org.apache.spark.util.sketch.BloomFilter.create(m, 0.01)
        it.foreach(f.putLong)
        Iterator.single(f)
      }
      .repartition(1)
      .mapPartitions { it =>
        val acc = it.next()
        it.foreach(acc.mergeInPlace)
        Iterator.single(acc)
      }
      .collect().head
  }

  private def undSimple(edges: DataFrame): DataFrame =
    edges
      .selectExpr("least(src, dst) AS u", "greatest(src, dst) AS v")
      .where(col("u") =!= col("v"))
      .distinct()

  private def countUnd(und0: DataFrame,
                       bloomMaxEdges: Long): DataFrame = Materialize.checkpointed { scope =>
    // und feeds deg TWICE (du and dv joins) plus the orientation join:
    // uncached, the whole edge-producing subtree (for the co-purchase
    // graph, a lineitem self-join) re-evaluates three times in the
    // executed plan (seen live: three BroadcastHashJoins on l_orderkey).
    // Cache both build frames, materialize the oriented list, release —
    // the PageRank one-pass lesson applied to the orientation build.
    val und = scope.cache(und0)
    val deg = scope.cache(und
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))

    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = scope.cache(und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("ddeg"))
      // cache under hash(src): both wedge sides are THIS cache joined on
      // src, so the self-join inherits matching partitioning from the
      // InMemoryTableScan and plans with no exchange on either side —
      // without the repartition, the wedge join re-shuffled the full
      // oriented list twice per run (the BfsHops/PageRank idiom)
      .repartition(col("src"))
      // ...and SORTED by src: the wedge self-join is a sort-merge join,
      // and an unsorted cache pays a Sort of the full oriented list on
      // BOTH wedge sides every run. Sorting once at cache-build time
      // makes the InMemoryTableScan advertise the ordering and both
      // SMJ sorts vanish (r20 opt: ProbeIterJoin2 measured the wedge
      // stage 6.00 -> 4.42 s at the sf0.1 co-purchase graph; the same
      // sorted-cache idiom as LabelPropagation/BfsHops adjacency)
      .sortWithinPartitions(col("src")))
    // materialize the oriented list, then release the build-only frames
    // (everything downstream — both wedge sides and the closing probe —
    // reads the oriented cache alone); the count also sizes the closure
    // Bloom filter below (a plan constant, the AnnIvf-centroid license)
    val m = oriented.count()
    scope.release(und)
    scope.release(deg)

    val x = oriented.select(col("src"), col("dst").as("a"), col("ddeg").as("da"))
    val y = oriented.select(col("src"), col("dst").as("b"), col("ddeg").as("db"))
    val wedges = x.join(y, Seq("src"))
      .where(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
    // Only (src, a, b) crosses the closure shuffle: da/db steered the
    // wedge de-dup predicate above and are dead weight past it — 16
    // fewer bytes per wedge row on a stream that dominates the query's
    // shuffle volume.
    val wedgeKeys = wedges.select(col("src"), col("a"), col("b"))
    // rank(a) < rank(b) ⇒ the a–b edge, if present, is oriented a→b;
    // (src, dst) is UNIQUE in the oriented list (und is distinct, the
    // orientation is a bijection), so the closing inner join has
    // multiplicity exactly 1 — it IS the semi-join "does edge a→b
    // exist", with the surviving wedge's own columns as the payload.
    val closing = oriented.select(col("src").as("a"), col("dst").as("b"))
    // Pruning the closure shuffle: the wedge stream is O(m^1.5) (41M
    // rows at the sf0.1 co-purchase graph) but only ~#triangles of it
    // survives the closing probe (1.9M there) — shuffling every wedge to
    // the (a, b) join is mostly wasted I/O (measured 10.2 s of g2's
    // cost). THREE forms, selected by the oriented edge count (the
    // ladder measured in bench_records/r13_closure_prune_probe.json and
    // re-measured with honest sketches in r16_regime3_probe_fixed.json /
    // r16_regime1_boundary_probe.json — all three row-identical, pinned
    // in ExtSpec):
    //
    // m ≤ bloomLiteralMaxEdges — plan-literal Bloom: a filter of the
    // closing edge keys drops non-closing wedges MAP-SIDE (before the
    // shuffle) at 1% false-positive rate; the exact equi-join then
    // verifies survivors, so false positives cost only shuffle bytes,
    // never correctness — the same broadcast-sketch-prunes-the-shuffle
    // pattern as [[BloomPrune]] and [[Decontaminate]]. The filter is
    // built distributively ([[closureBloom]] = treeAggregate over the
    // cached oriented list); only the finished sketch (~1.2 MB per
    // million edges at 1% FPP) lands on the driver and re-embeds as a
    // plan literal (the AnnIvf plan-constant license — Spark's own
    // runtime-filter aggregate is not in the public function registry,
    // and might_contain requires a foldable filter side). Stays inside
    // whole-stage codegen; ≤ ~2.4 MB of literal at the cap.
    //
    // bloomLiteralMaxEdges < m ≤ bloomBroadcastMaxEdges — the SAME
    // sketch as a broadcast VARIABLE + UDF pre-prune in front of the
    // shuffled-hash closing join: one torrent-shipped copy per executor
    // instead of a copy inside every task's serialized plan (at 24M
    // edges the literal's per-task deserialization alone made it 1.76×
    // slower). The UDF leaves whole-stage codegen — at these wedge
    // volumes the saved shuffle dwarfs it (1.38× vs the unpruned
    // semi-join at 24M edges, measured under HIGHER ambient load).
    //
    // m > bloomBroadcastMaxEdges — partitioned semi-join: past ~480 MB
    // the sketch itself is the memory problem, so the closure filter
    // becomes the closing join itself, planned as a SHUFFLED HASH join
    // with the oriented list as the build side: both sides
    // hash-partition on (a, b), each reducer builds a hash map of its
    // m/P closing keys and streams its wedges through — no
    // driver/executor materialization of anything, no sort of the wedge
    // stream (sort-merge would pay O(w log w) on the big side), memory
    // bounded by the BUILD side per partition (raise P with m). The
    // wedges shuffle unpruned — the honest cost of dropping every
    // sketch, linear in the wedge count and embarrassingly partitioned.
    val tri =
      if (m == 0) wedgeKeys.limit(0).join(closing, Seq("a", "b"))
      else if (bloomMaxEdges == -2L ||
               (bloomMaxEdges >= 0L && m > bloomMaxEdges && m <= bloomBroadcastMaxEdges)) {
        // mid-regime broadcast-variable form (forced by the -2 sentinel
        // from [[perNodeBroadcastBloomClosure]]; -1 forces the
        // semi-join): same sketch, broadcast instead of plan-embedded,
        // UDF instead of the native BloomFilterMightContain (whose
        // filter side must be foldable)
        val bf = closureBloom(oriented, m)
        val bfB = oriented.sparkSession.sparkContext.broadcast(bf)
        val mc = udf((h: Long) => bfB.value.mightContainLong(h))
        wedgeKeys
          .where(mc(expr("xxhash64(a, b)")))
          .join(closing.hint("shuffle_hash"), Seq("a", "b"))
      }
      else if (m <= bloomMaxEdges) {
        val bf = closureBloom(oriented, m)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        val mightContain = {
          import org.apache.spark.sql.GraftBridge._
          column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            expression(lit(bos.toByteArray)), expression(expr("xxhash64(a, b)"))))
        }
        // shuffle_hash like the other two regimes: the closing side is
        // the (small) oriented list, and a sort-merge plan sorts BOTH
        // the bloom-surviving wedge stream and the closing keys per run
        // (OPTIMIZATION_r20.md, interleaved A/B at sf0.1: closing
        // stage 3.48 -> 3.01 s min-of-3, SHJ faster in every pair; the
        // hint predated only this branch)
        wedgeKeys.where(mightContain).join(closing.hint("shuffle_hash"), Seq("a", "b"))
      } else {
        wedgeKeys.join(closing.hint("shuffle_hash"), Seq("a", "b"))
      }

    // the per-node counts are checkpointed before the oriented cache is
    // released. The checkpoint takes the UNSORTED aggregate and the global
    // sort is returned lazily OVER the checkpoint: checkpointing after the
    // orderBy forced the range-partitioned sort — and its range-boundary
    // sampling pass, which re-executes the whole final wedge-join stage —
    // inside the operator, measured at 1.4× the whole query's cost at
    // 24M edges (ROUND_NOTES_r11.md: 109–129 s vs 79–83 s). A caller that only
    // counts or joins skips the sort entirely (as before the cache-release
    // contract); a caller that writes ordered output sorts 1 row per node,
    // never the wedge stream.
    tri
      .select(explode(array(col("src"), col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }.orderBy(col("node"))

  /** DuckDB twin over an `edges(src, dst)` CTE the caller prepends:
    * the id-ordered triple join enumerates each triangle once as
    * (a < b < c), then every corner is credited.
    */
  def perNodeSqlTail: String =
    """und AS (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM edges WHERE src <> dst),
      |""".stripMargin + tripleJoinSql

  /** DuckDB twin of [[perNodeCapped]]: the same degree cap on the simple
    * undirected graph, then the id-ordered triple join on the induced
    * subgraph.
    */
  def perNodeCappedSqlTail(maxDegree: Long = 128L): String =
    s"""und0 AS (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM edges WHERE src <> dst),
       |cdeg AS (
       |  SELECT node, count(*) AS deg
       |  FROM (SELECT u AS node FROM und0 UNION ALL SELECT v FROM und0)
       |  GROUP BY node),
       |keep AS (SELECT node FROM cdeg WHERE deg <= $maxDegree),
       |und AS (
       |  SELECT e.u, e.v FROM und0 e
       |  JOIN keep ku ON ku.node = e.u
       |  JOIN keep kv ON kv.node = e.v),
       |""".stripMargin + tripleJoinSql

  /** Shared oracle core over a simple undirected CTE `und(u, v)`: each
    * triangle enumerated once as an id-ordered triple, every corner
    * credited.
    */
  private val tripleJoinSql: String =
    """t AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM und e1 JOIN und e2 ON e1.v = e2.u
      |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM (SELECT a AS node FROM t
      |      UNION ALL SELECT b FROM t
      |      UNION ALL SELECT c FROM t)
      |GROUP BY node ORDER BY node""".stripMargin
}
