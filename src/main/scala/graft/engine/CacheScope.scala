package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset

/** Session-wide registry for operator-persisted intermediates.
  *
  * Several operators (Dedup's shingle/signature/fingerprint frames, the
  * x17 lang-id frame) MUST persist an intermediate: Catalyst inlines
  * projected aliases into every consumer and lambda-bearing expressions
  * get no subexpression elimination, so without a materialization barrier
  * the expensive expression re-evaluates once per consumer. But the
  * operator returns a LAZY frame — it cannot unpersist before the
  * caller's terminal action, and never unpersisting leaks storage memory
  * across a long session (observed: 52-query bench accumulating blocks →
  * eviction churn).
  *
  * Contract: operators register what they persist via [[persistTracked]]
  * (or [[track]] for frames they persisted themselves); whoever owns the
  * terminal action — the bench/verify runners after each query, the HTTP
  * server after each request — calls [[drain]] to unpersist everything
  * registered since the last drain. Draining after the action is safe:
  * the cache only exists to dedupe work WITHIN one query's DAG.
  */
object CacheScope {
  // The registry is session-global; a query registers frames from its own
  // (single) thread and the runner drains from that same thread after the
  // terminal action (Bench/Verify are sequential; GraftServer registers
  // only a past-the-cap aggregate's rollup, on the request's thread, and
  // drains per request). Each tracked frame records its
  // registering thread and [[drain]] only releases the CALLING thread's
  // frames — so if concurrently-driven code paths ever use tracked
  // operators, one query's drain cannot unpersist frames another query is
  // still computing over (the registry degrades to per-thread scopes
  // instead of corrupting cache lifetimes).
  private val tracked = new ConcurrentLinkedQueue[(Thread, Dataset[_])]()

  // Checkpoint RDDs registered by [[Ckpt]]: Dataset.unpersist is a
  // CacheManager no-op for checkpointed frames (their storage hangs off
  // the RDD, not the cache), so they need their own release path
  // (Ckpt.release: blocks plus a reliable checkpoint's files).
  private val trackedRdds =
    new ConcurrentLinkedQueue[(Thread, org.apache.spark.rdd.RDD[_])]()

  /** Register a checkpoint's backing RDD for the next [[drain]]. */
  def trackRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    trackedRdds.add((Thread.currentThread(), rdd))

  /** Persist `ds` and register it for the next [[drain]]. */
  def persistTracked[T <: Dataset[_]](ds: T): T = {
    ds.persist()
    tracked.add((Thread.currentThread(), ds))
    ds
  }

  /** Register an already-persisted frame for the next [[drain]]. */
  def track[T <: Dataset[_]](ds: T): T = {
    tracked.add((Thread.currentThread(), ds))
    ds
  }

  /** Unpersist every frame tracked BY THIS THREAD (non-blocking). Idempotent. */
  def drain(): Unit = {
    val me = Thread.currentThread()
    val it = tracked.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e._1 eq me) { it.remove(); e._2.unpersist(blocking = false) }
    }
    val itR = trackedRdds.iterator()
    while (itR.hasNext) {
      val e = itR.next()
      if (e._1 eq me) { itR.remove(); Ckpt.release(e._2) }
    }
  }

  /** Number of currently-tracked (still-persisted) frames — lets runners
    * and specs observe orphaned registrations instead of leaking silently.
    */
  def trackedCount: Int = tracked.size

  /** Number of currently-tracked checkpoint RDDs (registered by [[Ckpt]],
    * released by the same drains as the persisted frames).
    */
  def trackedRddCount: Int = trackedRdds.size
}
