package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.catalog.GraftCatalog

/** The one home of graft's engine configuration. Every main (Bench,
  * Verify, Explain, Profile and the ladders) and the spec session build
  * their SparkSession from [[builder]], so a number measured by one of
  * them was measured on the same engine as the others. Callers may add
  * deployment settings (app name, paths) to the returned builder, never
  * engine keys.
  *
  * Two environment variables tune it, each read once, here:
  *   - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default 4);
  *   - `SPARK_GRAFT_ADVISORY`: AQE advisory partition size (default 64m).
  */
object GraftSession {

  /** Cores the mains run on (`SPARK_GRAFT_CPUS`, default 4). */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  private val CatalogKey = "spark.sql.catalog.graft_cat"

  /** Spark's session artifact isolation, which the engine turns off.
    * While it is on, each session UUID gets its own executor class
    * loader, and Spark caches generated classes per class loader; a
    * streaming `start()` clones its session under a new UUID, so every
    * query compiles all of its executor-side code again (6 Janino
    * compiles per fraud scoring cycle in Spark 4.1). graft adds no
    * session artifacts (jars, files, classes), so turning it off only
    * lets every session's tasks share the executor's default class
    * loader and its code cache. */
  private val IsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Every engine key the factory sets, in order, for `cpus` cores. */
  private[graft] def engineConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // NTZ fixture timestamps normalize via a session-tz-dependent cast;
    // pin UTC so results match across hosts.
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Let AQE coalesce small shuffle partitions BY SIZE. The Spark
    // default parallelismFirst=true keeps tiny post-shuffle partitions at
    // the session partition count — at sf0.1 that is 32 near-empty tasks
    // per stage of every catalog DML cycle (measured: q259 3.46 s ->
    // 3.02 s, q284 3.03 s -> 2.72 s with size-based coalescing).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // Advisory size for that coalescing. Default = Spark's own 64m: a
    // full-suite A/B vs 8m read 183.7 s vs 191.2 s — the CPU-heavy CoW
    // rewrites prefer smaller partitions (q278 4.10 -> 3.37) but the
    // MOR/DV feed cycles prefer the fewer output files of larger ones
    // (q210 2.17 -> 2.77, q268 1.70 -> 2.15).
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "64m"),
    // ContextCleaner only frees shuffle/broadcast state when the driver
    // GCs, and a large mostly-idle heap can go the default 30 min without
    // one; accumulated map-output state then slows scheduling. 2 min
    // bounds that window for any long session on this engine.
    "spark.cleaner.periodicGC.interval" -> "2min",
    IsolationKey -> "false",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    CatalogKey -> classOf[GraftCatalog].getName)

  /** A builder carrying the full engine conf for `cpus` local cores. */
  def builder(cpus: Int): SparkSession.Builder =
    engineConf(cpus).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Runs `start`, which starts a streaming query on `spark`, with
    * artifact isolation off on `spark`, then restores the caller's
    * previous value (set or unset). A query clones its session inside
    * `start()` and keeps the clone's conf, so the query's tasks share
    * the executor's default class loader and compile its generated code
    * once per JVM, while `spark`'s own conf reads as before. The query
    * stays in `spark.streams`. This also covers sessions the factory
    * did not build. Like any conf change, it must not race other work
    * on `spark`. */
  def startShared(spark: SparkSession)(start: => StreamingQuery): StreamingQuery = {
    val prev = spark.conf.getAll.get(IsolationKey) // None when unset
    spark.conf.set(IsolationKey, "false")
    try start
    finally prev.fold(spark.conf.unset(IsolationKey))(spark.conf.set(IsolationKey, _))
  }

  /** Binds `graft_cat` to [[GraftCatalog]] on `spark` — the same key and
    * value [[builder]] sets, so a declared query that calls this also
    * runs on a session the factory did not build. */
  def registerCatalog(spark: SparkSession): Unit =
    spark.conf.set(CatalogKey, classOf[GraftCatalog].getName)
}
