package graft.util

import org.apache.spark.sql.SparkSession

/** The per-JVM cache of reusable query artifacts: the dedup pair index
  * and cluster labels, the k-means run, the graph basket/pair/edge
  * tables and trained BPE tokenizers. A production pipeline derives
  * each of these ONCE per corpus and every downstream query reads it,
  * so queries that share one (and min-of-N bench re-runs) pay one build
  * per (session, key). Cached frames are localCheckpointed, i.e.
  * session-bound, hence the session token in every key; callers
  * namespace their keys (`dedup:`, `graph:`, ...).
  *
  * Plain get/putIfAbsent, NOT computeIfAbsent: builds re-enter
  * `cached` for their upstream artifact (labels → pair index, edges →
  * pairs → baskets), and a nested computeIfAbsent on the same map
  * throws "Recursive update" whenever two keys share a bin; the builds
  * also run Spark jobs, which must not execute inside the map's lock.
  * A lost race only duplicates work. */
object ArtifactCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  def cached[T <: AnyRef](s: SparkSession, key: String)(build: => T): T = {
    val k = s"${SessionToken(s)}:$key"
    val existing = cache.get(k)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val built = build
      val prev = cache.putIfAbsent(k, built)
      (if (prev != null) prev else built).asInstanceOf[T]
    }
  }

  /** Drop every cached artifact (Bench cold mode — each query then pays
    * its own build cost instead of riding another query's). */
  def clear(): Unit = cache.clear()
}
