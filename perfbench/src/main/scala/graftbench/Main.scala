package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** One timed operation of the closed loop; `kind` names the statement
  * type and `table` the table kind. */
final case class OpRec(kind: String, name: String, table: String,
                       ms: Double, ok: Boolean, err: String)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val plan: JValue, val tr: Tracer,
                val dataDir: String, val workDir: String) {
  implicit val formats: Formats = DefaultFormats
}

/** Entry point: `Main <plan.json> <result.json>`. The plan (written by
  * run.py from the seed) holds the workload, its generated operation
  * sequence and the run settings; the result holds per-operation records,
  * set-up times, check outcomes, layer counters and host evidence. */
object Main {
  implicit val formats: Formats = DefaultFormats

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.sql.catalog.bench", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", s"$workDir/graftcat")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (busy, steal, total) jiffies of the whole host from /proc/stat. */
  def procStat(): (Long, Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      val idle = f(3) + (if (f.length > 4) f(4) else 0L)
      (f.sum - idle, if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L, 0L) }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** VmHWM (peak resident set) of this process in MiB. */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  def main(args: Array[String]): Unit = {
    val plan = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8))
    val workload = (plan \ "workload").extract[String]
    val cores = (plan \ "cores").extract[Int]
    val seconds = (plan \ "seconds").extract[Double]
    val traced = (plan \ "trace").extract[Boolean]
    val workDir = (plan \ "work_dir").extract[String]
    val dataDir = (plan \ "data_dir").extract[String]

    val tr = new Tracer(traced)
    val t0 = System.nanoTime()
    val spark = tr.span("session") { session(cores, workDir) }
    val sessionS = (System.nanoTime() - t0) / 1e9
    val counters = if (traced) Some(new SparkCounters) else None
    counters.foreach(_.register(spark))
    val ctx = new Ctx(spark, plan, tr, dataDir, workDir)
    val wl: Workload = workload match {
      case "olap_mix" => new Olap(ctx)
      case "lakehouse_dml" => new Lakehouse(ctx)
      case "fraud_stream" => new Fraud(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val s0 = System.nanoTime()
    val setupReps = wl.setup()
    val setupTotalS = (System.nanoTime() - s0) / 1e9
    counters.foreach { c => org.apache.spark.BenchBus.drain(spark.sparkContext); c.reset() }

    // timed phase: one client, next operation only after the previous one
    val load0 = loadAvg(); val (busy0, steal0, tot0) = procStat()
    val gc0 = gcMs(); val cpu0 = cpuNs()
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var i = 0
    while (wl.hasOp(i) && (System.nanoTime() < deadline || !wl.canStopBefore(i))) {
      tr.op = i
      ops += wl.runOp(i)
      counters.foreach(_ => org.apache.spark.BenchBus.drain(spark.sparkContext))
      i += 1
    }
    tr.op = -1
    val timedS = (System.nanoTime() - start) / 1e9
    val gcD = gcMs() - gc0; val cpuD = (cpuNs() - cpu0) / 1e9
    val (busy1, steal1, tot1) = procStat()
    val load1 = loadAvg()

    // heap still live after full collections: what the run left held.
    // Each later collection also reclaims what Spark's ContextCleaner
    // released after the one before; stop once a round frees < 0.5 MiB.
    def usedMb(): Double = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val heapRounds = mutable.ArrayBuffer.empty[Double]
    while (heapRounds.size < 6 &&
        (heapRounds.size < 2 || heapRounds(heapRounds.size - 2) - heapRounds.last >= 0.5)) {
      if (heapRounds.nonEmpty) Thread.sleep(300)
      System.gc(); heapRounds += usedMb()
    }
    val heapLiveMb = heapRounds.last
    val checks = wl.finish(ops.toSeq)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers ++= tr.counters
    layers("jvm.gc_ms") = gcD.toDouble
    layers("jvm.cpu_s") = cpuD
    counters.foreach { c =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      c.synchronized {
        layers("spark.jobs") = c.jobs.toDouble
        layers("spark.stages") = c.stages.toDouble
        layers("spark.tasks") = c.tasks.toDouble
        layers("spark.job_wall_ms") = c.jobWallMs.toDouble
        layers("spark.executor_run_ms") = c.runMs.toDouble
        layers("spark.executor_cpu_ms") = c.cpuNs / 1e6
        layers("spark.shuffle_bytes") = c.shuffleBytes.toDouble
        layers("spark.planning_ms") = c.planningMs.toDouble
        layers("streaming.batches") = c.batches.toDouble
        layers("streaming.rows") = c.batchRows.toDouble
        c.streamMs.foreach { case (k, v) => layers(s"streaming.progress.$k") = v.toDouble }
      }
    }
    val dTot = math.max(1L, tot1 - tot0).toDouble
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" ||
        k.startsWith("spark.cleaner") }.toSeq.sortBy(_._1).toMap
    val host = Map(
      "cores" -> Runtime.getRuntime.availableProcessors,
      "spark_cores" -> cores,
      "load_avg_start" -> load0, "load_avg_end" -> load1,
      "busy_pct" -> 100.0 * (busy1 - busy0) / dTot,
      "steal_pct" -> 100.0 * (steal1 - steal0) / dTot,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    if (traced) Files.write(Paths.get(workDir, "spans.jsonl"), tr.spans.map(s =>
      Serialization.write(Map("name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op))).asJava,
      StandardCharsets.UTF_8)
    val result = Map(
      "workload" -> workload,
      "session_s" -> sessionS,
      "setup_total_s" -> setupTotalS,
      "setup_reps_s" -> setupReps,
      "timed_s" -> timedS,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "table" -> o.table, "ms" -> o.ms, "ok" -> o.ok, "err" -> o.err)),
      "checks" -> checks,
      "extra" -> wl.extra.toMap,
      "layers" -> layers.toMap,
      "peak_rss_mb" -> peakRssMb(),
      "heap_live_mb" -> heapLiveMb,
      "heap_rounds_mb" -> heapRounds,
      "host" -> host,
      "spark_conf" -> conf)
    Files.write(Paths.get(args(1)),
      Serialization.write(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** A benchmark workload: set-up, the closed-loop operations, and the
  * end-of-run output checks. `setup` returns the durations (s) of the
  * part of set-up it repeats; the rest of set-up runs once. */
trait Workload {
  def setup(): Seq[Double]
  def hasOp(i: Int): Boolean
  /** Whether the timed phase may end before operation `i` once its time
    * is up (workloads that measure whole passes say no mid-pass). */
  def canStopBefore(i: Int): Boolean = true
  def runOp(i: Int): OpRec
  /** Output checks after the timed phase: name -> failure messages
    * (empty when the check passed). */
  def finish(ops: Seq[OpRec]): Map[String, Seq[String]]
  /** Extra values for the result file (observed check values, sizes). */
  val extra: mutable.Map[String, Any] = mutable.LinkedHashMap.empty

  /** Runs `f` as operation `i`, timing it and turning an exception or a
    * failed check (a `Left`) into a failed operation. */
  protected def timed(kind: String, name: String, table: String)(
      f: => Either[String, Unit]): OpRec = {
    val t0 = System.nanoTime()
    val r = try f catch { case e: Throwable =>
      Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    val ms = (System.nanoTime() - t0) / 1e6
    OpRec(kind, name, table, ms, r.isRight, r.left.getOrElse(""))
  }
}
