package graft.ops

import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Registry for intermediate frames the library persists inside
  * multi-pass kernels (dedup inverted indexes, LSH signatures, IVF
  * cells). A kernel that returns a *lazy* plan cannot unpersist its
  * own intermediates — the caller's terminal action still needs them
  * — so the kernels register every persist here and the caller
  * releases the whole scope after the action:
  *
  * {{{
  *   val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
  *   out.write.parquet(...)          // terminal action
  *   CacheScope.releaseAll(spark)    // drop the kernel's caches
  * }}}
  *
  * `Verify`, `Bench`, and the test suites call [[releaseAll]] after
  * every catalog query; a long-lived 100 TB session should do the
  * same (or periodically) — otherwise cached shingle/vector frames
  * accumulate across queries until LRU eviction starts thrashing.
  * Releasing is always safe: an unpersisted frame recomputes.
  *
  * The registry is JVM-global, so [[releaseAll]] pairs with running
  * ONE multi-pass kernel at a time — a release from one thread drops
  * another in-flight query's caches (results stay correct; the
  * evicted frames recompute). A driver serving concurrent dedup/LSH
  * queries should serialize them per session or accept the
  * recompute; per-invocation scope handles would buy concurrency at
  * the cost of threading a handle through every kernel signature.
  */
object CacheScope {

  private val registered = mutable.ListBuffer.empty[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK) and register it for release. */
  def persist(df: DataFrame): DataFrame = synchronized {
    registered += df
    df.persist()
  }

  /** Register an already-materialized frame for release — for
    * [[Fixpoint]] runs, which manage persistence eagerly inside the
    * loop and hand only their final `localCheckpoint`ed frame to the
    * caller's scope. [[releaseAll]]
    * frees its block-manager blocks too, not just cache-manager
    * entries. */
  def register(df: DataFrame): DataFrame = synchronized {
    registered += df
    df
  }

  /** Unpersist every registered frame (non-blocking) and clear the
    * registry. Also drops block-manager blocks behind any
    * `localCheckpoint`ed plan node (`Dataset.unpersist` only covers
    * cache-manager entries). Idempotent; never fails on
    * already-released frames.
    *
    * END-OF-LIFE for checkpointed frames: a released `persist()`ed
    * frame silently recomputes on next use, but a `localCheckpoint`ed
    * frame has NO lineage to recompute from — using it after its
    * blocks are dropped fails. Call only after the query's terminal
    * action, which is the documented scope contract. */
  def releaseAll(): Unit = synchronized {
    registered.foreach { df =>
      try df.unpersist(blocking = false)
      catch { case _: Throwable => () }
      try freeCheckpointBlocks(df)
      catch { case _: Throwable => () }
    }
    registered.clear()
  }

  /** Drop the block-manager blocks behind a `localCheckpoint`ed
    * frame's LogicalRDD nodes. Safe on non-checkpointed frames
    * (no-op). */
  private[ops] def freeCheckpointBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Number of currently-registered (live) cached frames. */
  def size: Int = synchronized(registered.size)
}
