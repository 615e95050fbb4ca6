package graft

import graft.Rows.canon
import graft.core.{Catalog, GraftSession}
import graft.ext.{AnnIvf, LabelPropagation, PageRank, Triangles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Injection counter + switch for [[ChaosRetrySpec]]'s failure wrapper.
  * Top-level object: in local mode the executor shares the JVM, so the
  * counter is directly readable and proves chaos actually fired (a
  * vacuously-passing chaos test is worse than none).
  */
object ChaosInjector {
  val fired = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Task-retry chaos lane: real clusters retry tasks (SCALING.md's
  * cluster-translation claim), and the engine leans on retry-sensitive
  * constructs — localCheckpoint supersteps (PageRank, Triangles, label
  * propagation), seeded `sample`, `repartition(col)` under cache.
  * DecoderContractSpec pins retry-purity for decode only; this spec
  * injects REAL task failures (throw on attempt 0 of the first
  * partitions, `spark.task.maxFailures` = 3 via the `local[8, 3]`
  * master) across the iterative operators and asserts bit-identical
  * output vs the undisturbed run. Any nondeterminism under recompute —
  * an unseeded sample, an attempt-dependent ordering feeding a
  * non-commutative state update — becomes a permanent regression case.
  *
  * The spec owns a dedicated retry-enabled session (the shared one runs
  * plain local[n], where maxFailures is pinned to 1) under the engine's
  * own [[GraftSession.conf]] — local mode takes task retries only from
  * the master string, so this is the one session built outside
  * [[GraftSession.local]]. It stops whatever context is active, runs,
  * and stops its own — the next suite's getOrCreate builds a fresh
  * default session, which suite-sequential execution makes safe.
  */
class ChaosRetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.sparkContext.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[8, 3]") // 8 threads, up to 3 attempts per task
      .appName("graft-chaos")
      .config(GraftSession.conf(8))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR") // injected failures spam WARN
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.sparkContext.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    super.afterAll()
  }

  /** Failure-injecting identity: every STAGE that computes one of the
    * first `failParts` partitions of this frame throws on the task's
    * first attempt and succeeds on retry — so chaos hits each scan,
    * each checkpoint materialization, each shuffle-map recompute of the
    * wrapped input, not just one job.
    */
  private def chaos(df: DataFrame, failParts: Int = 2): DataFrame = {
    val schema = df.schema
    val rdd = df.rdd.mapPartitionsWithIndex { (i, it) =>
      val tc = org.apache.spark.TaskContext.get()
      if (i < failParts && tc != null && tc.attemptNumber() == 0) {
        ChaosInjector.fired.incrementAndGet()
        throw new RuntimeException(s"chaos: injected failure, partition $i attempt 0")
      }
      it
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  private def edges: DataFrame = {
    val li = Catalog(spark, sf).lineitem.select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
  }

  private def underChaos(name: String)(clean: => DataFrame, chaotic: => DataFrame): Unit = {
    val baseline = canon(clean)
    ChaosInjector.fired.set(0)
    // the injected attempt-0 failures are EXPECTED (each retried and
    // survived) — suppress their Executor/TaskSetManager stacks so the
    // suite log stays readable; a genuine divergence still fails the
    // assertions below
    val disturbed = QuietExpectedThrows { canon(chaotic) }
    val fired = ChaosInjector.fired.get()
    assert(fired > 0, s"$name: chaos never fired — the test is vacuous " +
      "(input partitioning changed?)")
    assert(baseline == disturbed,
      s"$name: output diverged under task retry ($fired injected failures) — " +
        "some construct in the operator is attempt-dependent")
    assert(baseline.nonEmpty)
  }

  test("g1 PageRank is bit-identical under injected task retries") {
    underChaos("g1_pagerank")(
      PageRank.ranks(edges),
      PageRank.ranks(chaos(edges)))
  }

  test("g2 exact triangles are bit-identical under injected task retries") {
    underChaos("g2_triangles")(
      Triangles.perNode(edges),
      Triangles.perNode(chaos(edges)))
  }

  test("g4 label propagation is bit-identical under injected task retries") {
    underChaos("g4_label_prop")(
      LabelPropagation.communities(edges),
      LabelPropagation.communities(chaos(edges)))
  }

  test("s3 IVF (Lloyd fit + probe + rescore) is bit-identical under injected task retries") {
    val e = Catalog(spark, sf).embeddings
    underChaos("s3_ann_ivf")(
      AnnIvf.topKLloyd(e, e.filter(col("vec_id") < 10), 5),
      AnnIvf.topKLloyd(chaos(e), chaos(e).filter(col("vec_id") < 10), 5))
  }

  // The deterministic ML twins ride a bounded driver fit
  // (orderBy().limit().collect() of the smallest keys) followed by a
  // literal projection: the fit SAMPLE itself must be attempt-invariant
  // or the whole hash-gated contract silently breaks under recompute.

  test("ml_als_twin (bounded fit + closed-form solves) is bit-identical under injected task retries") {
    val c = Catalog(spark, sf)
    underChaos("ml_als_twin")(
      graft.ml.AlsTwin.recommend(c.orders, c.lineitem),
      graft.ml.AlsTwin.recommend(chaos(c.orders), chaos(c.lineitem)))
  }

  test("ml_churn_twin (bounded fit + exact-Gini tree) is bit-identical under injected task retries") {
    val c = Catalog(spark, sf)
    underChaos("ml_churn_twin")(
      graft.ml.ChurnTree.scores(c.customer, c.orders, c.lineitem),
      graft.ml.ChurnTree.scores(chaos(c.customer), chaos(c.orders), chaos(c.lineitem)))
  }
}
