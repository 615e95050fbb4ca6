package graft

import graft.core.Materialize
import org.apache.spark.sql.GraftSessionBridge
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Operator cache lifecycle: every multi-pass operator must release the
  * caches it takes before returning. A CacheManager entry is never
  * reclaimed automatically — in a long-lived session composing
  * operators, one leaked build cache per call accumulates until
  * executors spill or OOM. Every operator cache is taken in a
  * [[graft.core.Materialize]] scope, which releases it on exit;
  * iterative state lives as `localCheckpoint`s (ContextCleaner-managed,
  * freed on GC), so the CacheManager is EMPTY when the operator returns.
  * The first cases pin the primitive itself; the rest pin the operators.
  *
  * The CacheManager is per-SharedState (one per JVM here), so each
  * check clears residue from other suites first — the assertion is then
  * exactly "this query added nothing that survived its own completion".
  */
class CacheHygieneSpec extends AnyFunSuite with SharedSpark {

  test("Materialize.scoped: a throwing body releases every cache it still holds") {
    spark.catalog.clearCache()
    intercept[IllegalStateException] {
      Materialize.scoped { scope =>
        val a = scope.cache(spark.range(10).toDF("a"))
        val b = scope.cache(spark.range(20).toDF("b"))
        scope.release(a)
        scope.release(a) // idempotent
        assert(a.storageLevel == StorageLevel.NONE && b.storageLevel != StorageLevel.NONE,
          "release(a) must free a alone")
        throw new IllegalStateException("body throws while b is held")
      }
    }
    assert(GraftSessionBridge.cacheManagerIsEmpty(spark),
      "the scope's exit did not release the cache still held when its body threw")
  }

  test("Materialize.checkpointed: the result reads no cache and keeps the body's rows") {
    spark.catalog.clearCache()
    var bodyRows = -1L
    val out = Materialize.checkpointed { scope =>
      val c = scope.cache(spark.range(1000).withColumn("k", col("id") % 7))
      val res = c.join(c.groupBy(col("k")).count(), "k").where(col("id") % 3 === 0)
      bodyRows = res.count()
      res
    }
    assert(GraftSessionBridge.cacheManagerIsEmpty(spark))
    val plan = out.queryExecution.optimizedPlan
    assert(plan.collect { case r: InMemoryRelation => r }.isEmpty,
      s"the checkpointed result still reads a cache:\n$plan")
    assert(plan.collect { case r: LogicalRDD => r }.nonEmpty,
      s"the result is not a checkpoint:\n$plan")
    assert(bodyRows == 334L && out.count() == bodyRows)
  }

  private val queries = Seq(
    "g1_pagerank",        // PageRank: withDeg + nodes build caches
    "g2_triangles",       // Triangles: und/deg + oriented
    "g3_bfs_hops",        // BfsHops: adjacency + per-round frontier/settled
    "g4_label_prop",      // LabelPropagation: adjacency + per-round labels
    "g5_triangles_capped", // capped variant: und0 + countUnd internals
    "d8_dup_clusters",    // DedupClusters + gram cache + spreadText
    "d3_minhash_pairs",   // MinHashDedup.verifiedPairs gram + spreadText
    "d4_ngram_jaccard",   // NgramJaccard.pairsBanded gram + spreadText
    "d10_span_dedup",     // spreadText released at the registry
    "d11_span_removal",   // spreadText released at the registry
    "d12_incremental_dedup", // spreadText released at the registry
    "d14_containment",    // ContainmentJoin gram cache
    "d6_simhash_pairs",   // SimHash fingerprint cache
    "ml_fpgrowth_pairs",  // FP-Growth basket cache released after fit
    "ml_model_roundtrip", // segmentation feature cache released
    "ml_kmeans_lloyd"     // SegmentationLloyd quantized-feature cache
  )

  for (name <- queries)
    test(s"$name leaves the CacheManager empty after running to completion") {
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, sf)
      df.count()
      assert(GraftSessionBridge.cacheManagerIsEmpty(spark),
        s"$name left cached frames registered in the CacheManager at return — " +
          "an operator must unpersist its build caches once its result is " +
          "materialized (keep iterative state as localCheckpoints instead)")
    }

  /** The long-lived-session contract, end to end: the serving design
    * (`serve/Serving.scala`) replaces the reference's per-query JVM
    * (`streamlit_segmentation_app.py:21-36`) with ONE session composing
    * operators indefinitely — its failure mode is cumulative leakage no
    * single-operator test sees. This soak runs the ENTIRE registry
    * sequentially in the shared session (the same sequence Verify runs),
    * asserting after EVERY query that the CacheManager is empty (exact
    * attribution on failure), and at the end that executor storage
    * drains back to zero persisted RDDs once the result frames are
    * unreachable — localCheckpoint blocks are ContextCleaner-managed,
    * so anything still pinned after GC is a genuine leak.
    */
  test("full-registry soak: all queries back-to-back leave no cache and drain storage") {
    spark.catalog.clearCache()
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.count()
      assert(GraftSessionBridge.cacheManagerIsEmpty(spark),
        s"$name left a CacheManager entry when run mid-soak (after every " +
          "query sorted before it) — a leak only the composed-session soak " +
          "can see if its trigger is cross-query state")
    }
    // storage stability: checkpoint blocks from the (now unreachable)
    // result frames must drain under GC + ContextCleaner — poll rather
    // than sleep-once since the cleaner is asynchronous
    // the cleaner is asynchronous AND load-sensitive: on a quiet host the
    // drain completes in seconds, on a loaded CI host its reference-queue
    // processing can lag far behind System.gc(). Poll with an adaptive
    // deadline — extend while the count is still FALLING (progress means
    // the cleaner is working, not leaking) and only give up after a full
    // quiet period with no progress; on failure dump the surviving RDD
    // ids/names so the leaking operator is attributable from the log.
    val sc = spark.sparkContext
    val quietPeriodNanos = 90L * 1000 * 1000 * 1000
    var deadline = System.nanoTime() + quietPeriodNanos
    var remaining = sc.getPersistentRDDs.size
    while (remaining > 0 && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(500)
      val now = sc.getPersistentRDDs.size
      if (now < remaining) deadline = System.nanoTime() + quietPeriodNanos
      remaining = now
    }
    val survivors = sc.getPersistentRDDs
    assert(survivors.isEmpty,
      s"${survivors.size} persisted RDDs survived GC + ContextCleaner with no " +
        "further progress over a 90 s quiet period — some operator pins " +
        "storage beyond its result's lifetime. Survivors: " +
        survivors.map { case (id, rdd) =>
          s"id=$id name=${Option(rdd.name).getOrElse("?")} storage=${rdd.getStorageLevel.description}"
        }.mkString("[", "; ", "]"))
  }

  /** The EXCEPTION half of the contract (r15): an operator that throws
    * mid-build must release its caches on the way out, or a long-lived
    * session accumulates one orphan per failed request. Two operators
    * have deterministic in-domain throw paths, so the behavior is
    * pinned executable rather than asserted in comments.
    */
  test("a non-converging components() throw releases every build cache") {
    import spark.implicits._
    spark.catalog.clearCache()
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] { QuietExpectedThrows {
      // maxIter=0 can never observe convergence -> the documented
      // fail-loudly path, thrown AFTER the pair/edge/label caches exist
      graft.ext.DedupClusters.components(docs, pairs, maxIter = 0)
    } }
    assert(GraftSessionBridge.cacheManagerIsEmpty(spark),
      "the non-convergence throw leaked the pair/edge/label build caches")
  }

  test("a throw DURING a round's convergence probe releases the in-flight cache") {
    // a throw inside a round (modeled with a pair column that throws on
    // evaluation, standing in for executor loss or a hostile row) lands
    // in round 0's eager checkpoint, while the pair, edge and seed-label
    // caches are registered. maxIter=0 (the test above) never runs a
    // round, so only this path throws with a round in flight.
    import spark.implicits._
    spark.catalog.clearCache()
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val boom = udf((x: Long) =>
      if (x >= 0) throw new RuntimeException("probe-time boom") else x)
    // the pair frame must NOT be a LocalRelation: ConvertToLocalRelation
    // evaluates deterministic expressions (UDFs included) at PLANNING
    // time, which would throw inside the pair cache's plan compilation —
    // before any cache registers — and make this test vacuously green. A
    // Range leaf keeps the UDF a runtime expression, so the throw lands
    // inside round 0 with all three caches registered.
    val pairs = spark.range(1)
      .select(lit(1L).as("doc_a"), boom(col("id") + 2L).as("doc_b"))
    intercept[Exception] { QuietExpectedThrows {
      graft.ext.DedupClusters.components(docs, pairs, maxIter = 5)
    } }
    assert(GraftSessionBridge.cacheManagerIsEmpty(spark),
      "a throw inside round 0 leaked a build cache past the operator's scope")
  }

  test("a rejected LabelPropagation input releases the adjacency cache") {
    import spark.implicits._
    spark.catalog.clearCache()
    val edges = Seq((-1L, 2L), (2L, 3L)).toDF("src", "dst")
    intercept[IllegalArgumentException] { QuietExpectedThrows {
      // negative node ids violate the tie-break precondition -> require
      // fires after the adjacency cache is registered
      graft.ext.LabelPropagation.communities(edges)
    } }
    assert(GraftSessionBridge.cacheManagerIsEmpty(spark),
      "the negative-id require leaked the adjacency cache")
  }
}
