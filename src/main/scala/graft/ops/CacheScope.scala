package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Cache-lifecycle scope for op-internal persists.
  *
  * Several ops persist an intermediate relation that feeds multiple
  * consumers of THEIR OWN plan (the minhash shingle table, the
  * decontamination n-gram explosion, the boilerplate per-(doc,gram)
  * counts, ...). The persist is load-bearing — without it the expensive
  * subplan recomputes per consumer — but the handle never escapes the
  * op, so a long-lived caller (the reference's runPipeline O7
  * guaranteed-cleanup semantics, src/index.ts:537-552) invoking ops in
  * sequence would accumulate storage for the life of the session.
  *
  * This object closes that gap with a DYNAMIC SCOPE, so no op signature
  * changes: ops route persists through [[CacheScope.persist]]; a
  * lifecycle owner (PipelineRunner.run, a spec, any library caller)
  * wraps its work in [[CacheScope.scoped]], and every persist acquired
  * inside the body is released in `finally` — error paths included.
  * OUTSIDE any scope, `persist` is exactly `df.persist()`: the bench
  * harness keeps its family-level cache-sharing policy (identical
  * persisted subplans dedup via the cache manager; families are dropped
  * wholesale at family boundaries — Bench.scala), and nothing changes
  * for existing callers.
  *
  * Already-cached plans are NOT re-registered: if the cache manager
  * reports a storage level for the plan (persisted by an enclosing
  * scope, by a sibling query of the same bench family, or by the
  * caller), the scope leaves its lifecycle to whoever persisted it —
  * a nested scope can never yank a cache out from under its owner.
  *
  * Scopes are per-thread (ops build their plans on the calling thread).
  * Work handed to other threads — streaming micro-batch closures — is
  * outside the scope by design and keeps its own explicit
  * try/finally-release discipline (StreamQueries, Merge, BucketedTarget).
  * Consumers must run their actions INSIDE the scope: at scope exit the
  * plan is still valid but recomputes from source.
  */
object CacheScope {

  final class Scope private[CacheScope] () {
    private val acquired = scala.collection.mutable.ArrayBuffer[DataFrame]()
    private[CacheScope] def register(df: DataFrame): Unit = acquired += df

    /** Unpersist everything acquired in this scope, newest first (a
      * later persist may read through an earlier one). Idempotent;
      * never throws — release runs on error paths.
      */
    def release(): Unit = {
      acquired.reverseIterator.foreach { df =>
        try df.unpersist() catch { case _: Throwable => () }
      }
      acquired.clear()
    }
  }

  private val active = new ThreadLocal[List[Scope]] {
    override def initialValue: List[Scope] = Nil
  }

  /** Persist `df` (MEMORY_AND_DISK, Spark's default) and, when a scope
    * is active on this thread, register it for release at scope exit.
    * No-op (and no registration) when the plan is already cached — see
    * the ownership rule in the class doc.
    */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist()
      active.get.headOption.foreach(_.register(df))
    }
    df
  }

  /** Chain-position drop-in for `.persist()`: `df.scopedPersist()` ≡
    * `CacheScope.persist(df)`.
    */
  implicit final class ScopedPersist(private val df: DataFrame) extends AnyVal {
    def scopedPersist(): DataFrame = CacheScope.persist(df)
  }

  /** Run `body` under a fresh scope; release every persist acquired in
    * it when the body returns or throws. Nests: the innermost scope
    * owns new persists.
    */
  def scoped[T](body: => T): T = {
    val s = new Scope
    active.set(s :: active.get)
    try body
    finally {
      active.set(active.get.tail)
      s.release()
    }
  }
}

/** Registry of STORAGE-BACKED MEMOS — the [[SessionMemo]]s whose values
  * hold localCheckpoint'd or persisted DataFrames across calls. A harness
  * that clears executor storage wholesale (Bench/ScaleCurve at family
  * boundaries) must invalidate these FIRST: unpersisting a
  * localCheckpoint RDD destroys its only copy (lineage is truncated), so
  * a memo handing out the old DataFrame afterwards fails with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — observed when the r14 sweep's flag
  * adjudication re-ran a q_er query after a cross-family clear. Every
  * SessionMemo registers a hook that releases and drops its entries; the
  * next access rebuilds. Hooks must never throw.
  */
object StorageMemos {
  private val hooks = new java.util.concurrent.CopyOnWriteArrayList[() => Unit]()
  private[ops] def register(hook: () => Unit): Unit = hooks.add(hook)
  def invalidateAll(): Unit = {
    val it = hooks.iterator()
    while (it.hasNext) { val h = it.next(); try h() catch { case _: Throwable => () } }
  }
}

/** A cross-query memo of values derived from a (session, key) pair — the
  * one shape behind every shared-subplan cache (graph, ER, suffix array)
  * and the ANN deploy markers.
  *
  * Keyed on the SESSION REFERENCE itself (SparkSession doesn't override
  * equals, so tuple equality is reference equality): an identityHashCode
  * key could collide after a stopped session was GC'd and its hash
  * reused, handing out checkpointed DataFrames bound to a dead session
  * (ADVICE r15). The strong ref pins at most [[SessionMemo.Capacity]]
  * stopped sessions, the same order as the values the memo holds.
  *
  * An LRU of [[SessionMemo.Capacity]] entries: a miss builds first, then
  * evicts the least recently used entry and passes it to `release`
  * (`clearCache()` can't free RDD-level persists, so a checkpoint memo
  * releases via [[SessionMemo.releaseCheckpoints]]). The memo registers
  * with [[StorageMemos]], whose invalidation releases and drops every
  * entry. All operations are synchronized on the memo; `build` runs
  * under the lock, so concurrent first calls build once.
  */
final class SessionMemo[K, V](release: V => Unit) {
  private val entries =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, K), V]

  StorageMemos.register(() => synchronized {
    entries.values.foreach(drop)
    entries.clear()
  })

  private def drop(v: V): Unit = try release(v) catch { case _: Throwable => () }

  /** The memoized value for (s, k), marked most recent; on a miss, `build`
    * it and insert it. */
  def apply(s: SparkSession, k: K)(build: => V): V = synchronized {
    entries.remove((s, k)) match {
      case Some(v) => entries.put((s, k), v); v // re-insert = mark most-recent
      case None => val v = build; put(s, k, v); v
    }
  }

  def get(s: SparkSession, k: K): Option[V] = synchronized { entries.get((s, k)) }

  /** Insert (s, k) -> v as most recent, releasing a replaced value and,
    * when full, the least recently used entry. */
  def put(s: SparkSession, k: K, v: V): Unit = synchronized {
    entries.remove((s, k)).filterNot(_ == v).foreach(drop)
    if (entries.size >= SessionMemo.Capacity) entries.remove(entries.head._1).foreach(drop)
    entries.put((s, k), v)
  }
}

object SessionMemo {
  /** Capacity invariant (ADVICE r15): eviction releases an entry — for a
    * checkpoint memo it unpersists the localCheckpoint RDDs — so any
    * caller still holding an evicted entry's DataFrame fails its next
    * action with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Capacity must
    * therefore be ≥ the number of (session, key) pairs LIVE AT ONCE in
    * any harness: Bench/Verify use 1 dataset, ScaleCurve interleaves 2
    * (small + large per query). A future ≥3-tier sweep MUST raise it
    * rather than silently thrash/break.
    */
  val Capacity = 2

  /** Unpersist the RDD of every LogicalRDD (localCheckpoint anchor) in
    * `df`'s analyzed plan. Never throws — release is best-effort. */
  def releaseCheckpoints(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(false); ()
      case _ => ()
    } catch { case _: Throwable => () }
}
