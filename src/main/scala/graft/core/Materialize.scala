package graft.core

import org.apache.spark.sql.DataFrame

/** The engine's one cache lifecycle: every operator cache is taken in a
  * [[Materialize.Scope]] and released when the scope exits, whether the
  * body returns or throws.
  *
  * Why a scope: a CacheManager entry is never reclaimed automatically.
  * In a long-lived session composing operators (the serving design), one
  * leaked build cache per call accumulates until executors spill or OOM,
  * and an operator that throws mid-build leaks one orphan per failed
  * request. `CacheHygieneSpec` pins an empty CacheManager after every
  * registry query, on the throw paths too.
  *
  * Why [[checkpointed]]: an operator whose result is built from its own
  * caches must materialize that result before the caches go, or the
  * caller's lazy plan re-derives the released frames on first action.
  * `checkpointed` eagerly `localCheckpoint`s the body's frame and only
  * then releases the scope, so the result never reads a released cache.
  * The checkpoint is usually the smallest frame in the pipeline (pairs,
  * scores, curated rows), and its blocks are ContextCleaner-managed:
  * they free when the caller drops the frame. Callers that want ordered
  * output sort lazily over the returned checkpoint, so a caller that
  * only counts or joins never pays the range-partitioned sort.
  *
  * What stays outside: superstep state is checkpointed round by round
  * in [[Superstep]], and a single barrier with no release point is a
  * direct `localCheckpoint` (e.g. `CorpusPipeline.spreadText` is a lazy
  * one — the same Catalyst barrier as a cache, run once on first
  * action, but nothing the caller must remember to unpersist).
  */
object Materialize {

  /** The caches taken inside one [[scoped]] body. */
  final class Scope private[Materialize] {
    private var held: List[DataFrame] = Nil

    /** `df.cache()`, owned by this scope until [[release]] or exit. */
    def cache(df: DataFrame): DataFrame = {
      val cached = df.cache()
      held = cached :: held
      cached
    }

    /** Unpersist `df` now if this scope still holds it; otherwise a no-op. */
    def release(df: DataFrame): Unit =
      if (held.exists(_ eq df)) {
        held = held.filterNot(_ eq df)
        df.unpersist()
      }

    // most recent first: a cache built from another goes before its
    // source, so unpersisting the source never re-plans a held dependent
    private[Materialize] def releaseAll(): Unit = held.foreach(_.unpersist())
  }

  /** Run `body` with a fresh scope; every cache it still holds is
    * unpersisted on exit.
    */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope) finally scope.releaseAll()
  }

  /** [[scoped]], with the body's frame eagerly `localCheckpoint`ed
    * before the scope's caches are released.
    */
  def checkpointed(body: Scope => DataFrame): DataFrame =
    scoped(scope => body(scope).localCheckpoint(eager = true))
}
