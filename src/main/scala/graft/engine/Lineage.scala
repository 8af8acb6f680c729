package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The program's one scoped-cache lifecycle ([[BoundedCaches]] is the
  * other owner of cached frames, for those a lazily returned query keeps).
  * It covers the round loops of the iterative operators (PageRank, Hits,
  * ConnectedComponents, Scc, Bfs, …, and the subword trainers) — persist
  * each round's state, materialize it with the round's one action, read it
  * onward through a lineage-truncated view, and release it once the next
  * round no longer needs it — and the resolutions upload mapping, pinned
  * by the completeness check that fills it and released after the sink.
  * Either way the frames are released on the normal path and when the
  * body refuses or fails.
  *
  * Frames are pinned inside a [[Scope]] ([[scope]]), which releases every
  * frame still registered with it when the body exits, however it exits.
  * A frame an operator returns is taken out of the scope with
  * [[Scope.keep]]; kept results go to the session cache, which releases
  * them (`catalog.clearCache`, or its LRU).
  *
  * Truncation: a pinned frame's [[Pinned.view]] re-roots the persisted,
  * materialized frame as a LEAF over its RDD, so a round's plan does not
  * re-embed the whole upstream pipeline and every earlier round (Catalyst
  * re-analysis of that tree was paid every round even though execution
  * read the caches; a round that references its predecessor more than once
  * made the plan grow geometrically). Deliberately the RDD form
  * (`createDataFrame(df.rdd, df.schema)`), NOT
  * [[org.apache.spark.sql.GraftBridge.rerootOnCache]]'s InMemoryRelation
  * leaf: an IMR node renders its cached child plan as innerChildren in
  * every treeString (cache naming, explain, the SQL listener's
  * plan-description), so a ROUND LOOP of IMR-rooted frames — round t's
  * plan embedding round t−1's IMR, referenced more than once per round —
  * makes plan RENDERING grow geometrically with the round count (r18
  * measured: d63 Luby-MIS OOM'd an 8 GB driver building the cache-name
  * string by ~round 20). The RDD leaf (LogicalRDD) renders as one line,
  * so string work stays O(1) per round regardless of iteration count;
  * the price is the InternalRow↔Row conversion on per-round scans, which
  * is linear and bounded. Re-rooting on the cache is right for BOUNDED-
  * depth compositions (BoundedCaches.persist, depth ≈ 5) and wrong for
  * unbounded loops.
  */
object Lineage {

  private def truncate(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** A frame persisted (MEMORY_AND_DISK) in a [[Scope]].
    *
    *  - `view` is the truncated leaf over the cache: what later rounds and
    *    the operator's result read.
    *  - `frame` is the persisted plan itself, for consumers that run in the
    *    same action that materializes it (a convergence aggregate, a
    *    lazily pinned intermediate read twice within one round).
    *
    * Neither is unpersisted directly (unpersisting the truncated view frees
    * nothing): the frame is released by [[release]] or by its scope. */
  final class Pinned private[Lineage] (
      val frame: DataFrame, private[Lineage] var owner: Scope) {
    lazy val view: DataFrame = truncate(frame)
    private var released = false

    /** Unpersist now (non-blocking) and leave the scope; idempotent, so a
      * second call cannot evict a later cache entry of the same plan. */
    def release(): Unit = if (!released) {
      released = true
      if (owner != null) owner.live -= this
      owner = null
      frame.unpersist(blocking = false)
    }
  }

  /** The (state, last action value) a [[Scope.fixpoint]] stopped at, after
    * `rounds` rounds; `converged` says whether `done` held. */
  final case class Fixpoint[A](state: Pinned, value: A, rounds: Int, converged: Boolean)

  /** A [[Scope.wave]]'s frontiers — the start first, then one per step —
    * and the row count of the last one (0 once the frontier ran dry). */
  final case class Wave(levels: Seq[Pinned], rows: Long)

  final class Scope private[Lineage] {
    private[Lineage] val live = mutable.LinkedHashSet.empty[Pinned]

    /** Persist `df` without an action: the next action that reads it
      * (usually the round's convergence aggregate) materializes it. */
    def pinLazy(df: DataFrame): Pinned = {
      val p = new Pinned(df.persist(MEMORY_AND_DISK), this)
      live += p
      p
    }

    /** Persist `df` and materialize it with `action`, whose value is
      * returned alongside: the aggregate that fills the cache is also the
      * value the loop needs (a row count, a label sum, a dangling mass). */
    def pinBy[A](df: DataFrame)(action: DataFrame => A): (Pinned, A) = {
      val p = pinLazy(df)
      (p, action(p.frame))
    }

    /** Persist `df` and materialize it with a count. */
    def pin(df: DataFrame): Pinned = pinBy(df)(_.count())._1

    /** Take `p` out of the scope: it stays cached after the scope exits. */
    def keep(p: Pinned): Pinned = {
      live -= p
      p.owner = null
      p
    }

    private[Lineage] def close(): Unit = {
      val all = live.toList
      live.clear()
      all.foreach(_.release())
    }

    /** Up to `maxRounds` rounds from `init`. Each round builds the next
      * state from the current state's view in a round scope (frames the
      * round pins there are released when the round ends), pins it in this
      * scope with `action` as the round's one materializing action, and
      * releases the previous state; the loop stops early once
      * `done(previous value, new value)` holds. */
    def fixpoint[A](init: Pinned, value: A, maxRounds: Int)(
        next: (Scope, DataFrame, A) => DataFrame)(
        action: DataFrame => A)(done: (A, A) => Boolean): Fixpoint[A] = {
      var state = init
      var a = value
      var rounds = 0
      var converged = false
      while (!converged && rounds < maxRounds) {
        val (p, b) = scope(round => pinBy(next(round, state.view, a))(action))
        state.release()
        state = p
        converged = done(a, b)
        a = b
        rounds += 1
      }
      Fixpoint(state, a, rounds, converged)
    }

    /** Exactly `n` rounds, each materialized by a count. */
    def rounds(init: Pinned, n: Int)(next: (Scope, DataFrame) => DataFrame): Pinned =
      fixpoint(init, 0L, n)((round, cur, _) => next(round, cur))(_.count())((_, _) => false).state

    /** A frontier wave of up to `maxSteps` steps from `start` (`startRows`
      * rows), stopping after the first empty frontier. `step(frontier, k,
      * earlier)` builds step k's frontier from step k−1's, with `earlier`
      * the views of every frontier so far. TWO steps run per action: step k
      * is pinned lazily and materializes inside step k+1's count — an empty
      * step k makes step k+1 empty too, so the single count still stops the
      * wave correctly. A last odd step under `maxSteps` runs alone. Every
      * frontier stays pinned in this scope; the caller keeps or releases
      * them. */
    def wave(start: Pinned, startRows: Long, maxSteps: Int)(
        step: (DataFrame, Int, Seq[DataFrame]) => DataFrame): Wave = {
      val levels = mutable.ArrayBuffer(start)
      def earlier = levels.map(_.view).toSeq
      var rows = startRows
      var k = 1
      while (k <= maxSteps && rows > 0L) {
        if (k < maxSteps) {
          levels += pinLazy(step(levels.last.view, k, earlier))
          k += 1
        }
        val (p, n) = pinBy(step(levels.last.view, k, earlier))(_.count())
        levels += p
        rows = n
        k += 1
      }
      Wave(levels.toSeq, rows)
    }
  }

  /** Run `body` in a fresh [[Scope]] and release every frame still pinned
    * in it when `body` returns or throws. */
  def scope[T](body: Scope => T): T = {
    val s = new Scope
    try body(s) finally s.close()
  }
}
