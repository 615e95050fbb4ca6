package graft.core

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The engine's one superstep driver: the bulk-synchronous round loop
  * (Pregel's superstep, Malewicz et al., SIGMOD 2010) under every
  * iterative operator. An operator supplies only its relational round
  * body and picks one of three stop rules:
  *
  *  - [[fixed]]: exactly `rounds` rounds, no probe (PageRank,
  *    LabelPropagation);
  *  - [[untilStable]]: stop at the first round in which no row has
  *    [[Changed]] set, and fail at the bound (DedupClusters);
  *  - [[frontier]]: stop on an empty new frontier (BfsHops).
  *
  * The barrier: every frame a round produces is eagerly
  * `localCheckpoint`ed before the next round plans against it.
  *  - Lineage: each round plans against a small materialized frame (a
  *    `LogicalRDD`) instead of the whole history. A chained k-deep
  *    join/aggregate plan re-optimizes and re-broadcasts every prior
  *    round's subtree, and an executor loss would replay all of it.
  *  - Codegen: each round's plan keeps one fixed shape, so whole-stage
  *    codegen compiles once and is cache-hit thereafter, where growing
  *    lineage recompiles a bigger plan per round (measured 6.1 -> 5.1 s
  *    on the sf0.1 d8 shape; the checkpointed state is |connected| label
  *    rows, far smaller than the corpus, so the write is noise).
  *  - Lifecycle: unlike `.cache()`, checkpoint blocks are
  *    ContextCleaner-managed. A superseded round frees when its frame is
  *    GC'd, so neither a long-lived session nor an early-terminating run
  *    leaks CacheManager entries. Cluster deployments use a reliable
  *    checkpoint dir instead of a local one.
  *
  * Operator caches that feed every round (adjacency, edges) stay in the
  * operator's [[Materialize]] scope; round state never enters it.
  */
object Superstep {

  /** The boolean column [[untilStable]] probes: set on a row the round changed. */
  val Changed = "relabeled"

  private def barrier(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** `step` run for rounds 1..`rounds`, each round over the previous
    * round's checkpoint; `rounds` = 0 returns `init` untouched.
    */
  def fixed(init: DataFrame, rounds: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init)((state, k) => barrier(step(state, k)))

  /** `step` run until the first round whose frame has no [[Changed]] row,
    * probed with `filter(changed).limit(1).count()`; that round's frame is
    * returned. `init` is checkpointed first, as [[frontier]]'s seed is: a
    * lazy seed built inside round 1's barrier may be shuffled before AQE
    * re-plans the join over it, so the job count varied run to run. A run
    * still changing after `maxRounds` rounds throws: its state would
    * silently diverge from the fixed point the oracle replays, with
    * nothing to attribute the mismatch to. The bound caps runaway cost;
    * it is not an approximation knob.
    */
  def untilStable(operator: String, init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    // scanLeft is lazy: round k + 1 is planned only after round k's probe
    (1 to maxRounds).iterator.scanLeft(barrier(init))((state, k) => barrier(step(state, k))).drop(1)
      .find(_.filter(col(Changed)).limit(1).count() == 0)
      .getOrElse(throw new IllegalStateException(
        s"$operator did not converge within $maxRounds rounds: raise the bound"))

  /** Frontier expansion: `seed` is both the first settled set and the
    * first frontier; round k's `expand(settled, frontier, k)` yields the
    * rows first reached in round k. An empty delta (a `count() == 0`
    * probe) ends the run with the settled set as it stands: it is
    * already the fixed point, and the skipped union + checkpoint pass
    * was pure overhead (a cold-path probe measured it at seconds).
    * Otherwise the delta is unioned into the settled set and becomes the
    * next frontier. At most `maxRounds` rounds run.
    */
  def frontier(seed: DataFrame, maxRounds: Int)(
      expand: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    @tailrec def round(settled: DataFrame, front: DataFrame, k: Int): DataFrame =
      if (k > maxRounds) settled else {
        val delta = barrier(expand(settled, front, k))
        if (delta.count() == 0) settled else round(barrier(settled.union(delta)), delta, k + 1)
      }
    val settled = barrier(seed)
    round(settled, settled, 1)
  }
}
