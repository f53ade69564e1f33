package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for persisted STAGING frames — the bounded
  * intermediates (cell tables, per-source word counts, distinct-value
  * tables) operators persist+materialize once so multiple consumers read
  * cached rows instead of re-deriving a corpus aggregate (the psiPerGroup
  * column-pruning-defeats-exchange-reuse lesson).
  *
  * Why a registry: eager unpersist inside an operator is unsafe — its
  * output is lazily consumed, so the stage must outlive the `apply`
  * call. Left alone, MEMORY_AND_DISK blocks from a 200-gate sweep or
  * repeated pipeline triggers accumulate for the session's life
  * (ADVICE r13).
  *
  * SCOPES (ADVICE r14): release is tied to the call path that CREATED
  * the stage, not to a session-global sweep. A consumption point wraps
  * its work in [[scoped]]; frames staged anywhere under that block (on
  * the same thread) release when the block exits — i.e. after the
  * actions that consumed them have finished, which is that path's
  * quiescent point BY CONSTRUCTION. Scopes are thread-confined and
  * nest, so:
  *
  *  - concurrent pipelines in one session (distinct threads, e.g. two
  *    streaming queries' foreachBatch loops) cannot release each
  *    other's frames — the r14 hazard where an early sweep made
  *    `spark_partition_id`-dependent stages (KsStatistic, QuantileRank)
  *    recompute with different partition boundaries mid-consumption is
  *    structurally closed;
  *  - a long-lived monitor loop wraps each trigger's readout in
  *    [[scoped]] and leaks nothing, with no global-contract knowledge.
  *
  * Every staged frame belongs to a scope: [[stage]] and [[adopt]] with
  * no scope open on the calling thread throw, so a frame can never
  * outlive its call path unnoticed. Each entry point (Verify, Bench,
  * ExplainPlans, the probe legs, `PipelineRunner.run`, `Cli analyze`,
  * `Cli report`) opens one. [[release]] drops one specific frame when
  * the creating code knows its own quiescent point.
  */
object Staging {

  private final class Scope {
    val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  }

  // thread-confined stack of open scopes (innermost first)
  private val scopes = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Persist + eagerly materialize `df` and register it with the
    * innermost open scope on this thread (released at that scope's
    * exit). Eager because every staging site needs it (consumers must
    * hit the cache, not re-derive) and because a lazily-persisted stage
    * could otherwise first materialize AFTER its release raced past it.
    * Throws `IllegalStateException`, persisting nothing, when no scope
    * is open.
    */
  def stage(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val s = innermost("stage")
    val p = df.persist(level)
    p.count()
    s.frames.add(p)
    p
  }

  /** Register an ALREADY-persisted frame (e.g. a frozen model table
    * whose lifetime is normally caller-managed) with the innermost open
    * scope, so the surrounding call path's release point unpersists it
    * like any staged frame. Throws `IllegalStateException` when no scope
    * is open.
    */
  def adopt(df: DataFrame): DataFrame = {
    innermost("adopt").frames.add(df)
    df
  }

  private def innermost(op: String): Scope = scopes.get() match {
    case s :: _ => s
    case Nil => throw new IllegalStateException(
      s"Staging.$op outside any Staging.scoped block: no scope would release the frame")
  }

  /** Run `body` with a fresh scope: frames staged under it (this
    * thread) unpersist when the block exits — after `body`'s consuming
    * actions completed. Nests; inner scopes release first.
    */
  def scoped[T](body: => T): T = {
    val s = new Scope
    scopes.set(s :: scopes.get())
    try body
    finally {
      scopes.set(scopes.get() match { case _ :: t => t; case Nil => Nil })
      s.frames.forEach(df => df.unpersist(false))
      s.frames.clear()
    }
  }

  /** Unpersist one staged frame now — for creators that know their own
    * quiescent point. Removes it from this thread's scopes (or no-ops
    * for an unknown frame).
    */
  def release(df: DataFrame): Unit =
    if (scopes.get().exists(_.frames.remove(df))) df.unpersist(false)

  /** Number of live staged frames on this thread's scopes (test and
    * benchmark observability).
    */
  def liveCount: Int = scopes.get().map(_.frames.size).sum
}
