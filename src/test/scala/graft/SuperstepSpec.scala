package graft

import scala.collection.mutable

import graft.core.Superstep
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The superstep driver's contract: which rounds run, what each round
  * plans against, where each stop rule ends the run, and the
  * non-convergence failure. The operators on top of it (PageRank,
  * LabelPropagation, BfsHops, DedupClusters) are hash-gated elsewhere.
  */
class SuperstepSpec extends AnyFunSuite with SharedSpark {

  private def checkpointed(df: DataFrame): Boolean = df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  private def longs(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq.sorted

  /** v -> min(v + 1, 3), with the changed flag set while v still moves. */
  private def climb(state: DataFrame): DataFrame = {
    val next = least(col("v") + 1L, lit(3L))
    state.select(next.as("v"), (next =!= col("v")).as(Superstep.Changed))
  }

  test("fixed mode runs rounds 1..N, each over the previous round's checkpoint") {
    import spark.implicits._
    val rounds = mutable.ArrayBuffer.empty[(Int, Boolean)]
    val out = Superstep.fixed(Seq(0L).toDF("v"), 3) { (state, k) =>
      rounds += ((k, checkpointed(state)))
      state.select((col("v") + k.toLong).as("v"))
    }
    assert(rounds == Seq((1, false), (2, true), (3, true)))
    assert(checkpointed(out), out.queryExecution.analyzed.treeString)
    assert(longs(out) == Seq(6L))
  }

  test("zero rounds returns init untouched") {
    val init = spark.range(3).toDF("v")
    assert(Superstep.fixed(init, 0)((_, _) => fail("no round may run")) eq init)
  }

  test("until-stable mode stops at the first round with no changed row and returns it") {
    import spark.implicits._
    val rounds = mutable.ArrayBuffer.empty[(Int, Boolean)]
    val out = Superstep.untilStable("SuperstepSpec.climb", Seq(0L).toDF("v"), 10) { (state, k) =>
      rounds += ((k, checkpointed(state)))
      climb(state)
    }
    // rounds 1..3 move v to 3; round 4 changes nothing and ends the run;
    // init is checkpointed too, so round 1 plans over a LogicalRDD
    assert(rounds == (1 to 4).map((_, true)))
    assert(checkpointed(out))
    assert(out.select(col("v"), col(Superstep.Changed)).as[(Long, Boolean)].collect().toSeq == Seq((3L, false)))
  }

  test("a run still changing at the bound throws with the operator and the bound") {
    import spark.implicits._
    val rounds = mutable.ArrayBuffer.empty[Int]
    val e = intercept[IllegalStateException] {
      Superstep.untilStable("SuperstepSpec.climb", Seq(0L).toDF("v"), 2) { (state, k) =>
        rounds += k
        climb(state)
      }
    }
    assert(rounds == Seq(1, 2))
    assert(e.getMessage.contains("SuperstepSpec.climb") && e.getMessage.contains("within 2 rounds"),
      e.getMessage)
  }

  test("frontier mode stops on an empty delta before the bound and returns the settled set") {
    import spark.implicits._
    val rounds = mutable.ArrayBuffer.empty[Int]
    // the chain 0 -> 1 -> 2 -> 3: each round reaches the next node, round
    // 4 reaches nothing new
    val out = Superstep.frontier(Seq(0L).toDF("v"), 10) { (settled, front, k) =>
      rounds += k
      front.select((col("v") + 1L).as("v")).where(col("v") <= 3L)
        .join(settled, Seq("v"), "left_anti")
    }
    assert(rounds == Seq(1, 2, 3, 4))
    assert(checkpointed(out))
    assert(longs(out) == Seq(0L, 1L, 2L, 3L))
  }
}
