package graft.catalog

import java.util.concurrent.{CompletableFuture, CompletionException}

/** Byte-bounded LRU memo for the driver-side per-file fold caches
  * (round-18 fix of the round-17 eviction hazard, guide §5 driver
  * memory), also used for the loaded-model memo of
  * [[graft.pipeline.FraudPipeline]].
  *
  * The round-17 memos capped by ENTRY COUNT (4096) with a wholesale
  * `clear()`: (a) a table whose live delta chain exceeded the cap
  * cleared the whole cache mid-fold and degraded to re-reading every
  * file on every subsequent resolution — exactly when delta pressure
  * is highest; (b) entries for compacted-away files stayed resident
  * until the wholesale clear; (c) a count bound is not a memory bound
  * (4096 parsed delta files can be many GB of driver heap at
  * production file sizes).
  *
  * This cache bounds by ESTIMATED BYTES and evicts least-recently-used
  * entries one at a time, so (a) a long chain of small files — the
  * compaction-pressure case — fits and folds with exactly one read per
  * file per JVM (FoldCacheSpec pins this via the fileOpens counter);
  * (b) entries for retired files age out instead of pinning heap, and
  * [[GraftCatalog.expireOrphanFiles]] invalidates them eagerly; (c)
  * the driver-heap hold is bounded by `maxBytes` regardless of entry
  * count or per-file size.
  *
  * Values must be immutable — they are handed out shared. `compute`
  * runs OUTSIDE the lock, so parquet reads never serialize behind the
  * cache lock and misses on different keys compute concurrently. Misses
  * are single-flight per key: concurrent misses on one key wait for the
  * first caller's compute instead of repeating it (two `predict` calls
  * missing on one model do one `PipelineModel.load`). A compute that
  * throws leaves no entry; its waiters get its exception and the next
  * caller computes again.
  */
private[graft] final class ByteLruCache[K <: AnyRef, V <: AnyRef](
    maxBytes: () => Long, weigh: V => Long) {
  // accessOrder = true: iteration starts at the least-recently-USED entry
  private[this] val map =
    new java.util.LinkedHashMap[K, (V, Long)](64, 0.75f, true)
  private[this] var bytes = 0L
  // misses being computed right now, by key (guarded like `map`)
  private[this] val inflight = new java.util.HashMap[K, CompletableFuture[V]]

  def getOrCompute(k: K)(compute: => V): V = {
    val (hit, flight, owner) = synchronized {
      val e = map.get(k) // updates access order
      if (e != null) (e._1, null, false)
      else inflight.get(k) match {
        case null =>
          val f = new CompletableFuture[V]
          inflight.put(k, f)
          (null.asInstanceOf[V], f, true)
        case f => (null.asInstanceOf[V], f, false)
      }
    }
    if (hit != null) hit
    else if (!owner)
      try flight.join()
      catch { case e: CompletionException => throw e.getCause }
    else {
      val (v, w) =
        try { val v = compute; (v, math.max(0L, weigh(v))) }
        catch {
          case t: Throwable =>
            synchronized(inflight.remove(k))
            flight.completeExceptionally(t)
            throw t
        }
      synchronized {
        inflight.remove(k)
        val prev = map.put(k, (v, w))
        bytes += w - (if (prev == null) 0L else prev._2)
        val budget = maxBytes() // read per insert: specs tune it live
        val it = map.entrySet().iterator()
        // never evict the entry just inserted, even when it alone
        // exceeds the budget (it is in use right now)
        while (bytes > budget && it.hasNext) {
          val e = it.next()
          if (!e.getKey.equals(k)) { bytes -= e.getValue._2; it.remove() }
        }
      }
      flight.complete(v)
      v
    }
  }

  /** Eager invalidation for files known to have left the live set
    * (orphan sweep / VACUUM); LRU aging covers everything else. */
  def invalidateIf(p: K => Boolean): Unit = synchronized {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { bytes -= e.getValue._2; it.remove() }
    }
  }

  /** Snapshot of the cached keys (does not touch access order). */
  def keys: Seq[K] = synchronized {
    import scala.jdk.CollectionConverters._
    map.keySet.asScala.toVector
  }

  def currentBytes: Long = synchronized(bytes)
  def entryCount: Int = synchronized(map.size)
  def clear(): Unit = synchronized { map.clear(); bytes = 0L }
}

private[graft] object ByteLruCache {
  /** Default per-cache budget: 256 MiB. */
  val DefaultBytes: Long = 256L << 20

  /** Per-cache budget of the fold caches (three exist: delta parses, DV
    * vectors, eq-delete keys — worst-case driver hold 3 × this).
    * Overridable for constrained drivers / specs; read per insert so
    * a running JVM honors changes. */
  def budgetBytes(): Long =
    try sys.props.get("graft.fold.cache.bytes").map(_.toLong)
      .getOrElse(DefaultBytes)
    catch { case _: NumberFormatException => DefaultBytes }

  /** Rough JVM-heap weight of one cached key value (fold sets hold
    * canonical Long/Integer/String/Vector ids). */
  def idWeight(v: AnyRef): Long = v match {
    case s: String => 48L + 2L * s.length
    case vec: Vector[_] =>
      48L + vec.iterator.map(x => idWeight(x.asInstanceOf[AnyRef])).sum
    case _ => 32L // boxed Long / Integer
  }
}

/** Bounded parallel map for the driver-side per-file fold parses
  * (round-18, guide §1/§5): after a DML wave every fresh DV/delta file
  * is parsed ONCE (memo miss) on the driver — serially, that was
  * ~5-10 ms × dozens of files on q275's profile. The parses are
  * independent pure functions of immutable files, so a small fixed
  * pool folds them concurrently; callers still APPLY results in commit
  * order. Daemon threads; never more than 8 wide (driver-side metadata
  * work must not compete with executor threads for the host). */
private[catalog] object FoldPar {
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
    8,
    (r: Runnable) => {
      val t = new Thread(r, "graft-fold")
      t.setDaemon(true)
      t
    })

  /** Order-preserving map; serial below 3 elements (pool handoff costs
    * more than it saves on one or two files) and when already ON a
    * fold thread (nested use must not deadlock the fixed pool). */
  def map[A, B](in: Vector[A])(f: A => B): Vector[B] =
    if (in.size < 3 ||
        Thread.currentThread().getName.startsWith("graft-fold")) in.map(f)
    else {
      import scala.jdk.CollectionConverters._
      val tasks: java.util.List[java.util.concurrent.Callable[B]] =
        in.map(a => (() => f(a)): java.util.concurrent.Callable[B]).asJava
      pool.invokeAll(tasks).asScala.map { fut =>
        try fut.get()
        catch { // keep the fold's own failure loud, not the wrapper
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }.toVector
    }
}
