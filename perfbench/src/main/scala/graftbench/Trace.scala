package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the index of the enclosing span (-1 at
  * the top) and `op` the operation the span belongs to (-1 for set-up). */
final case class Span(name: String, startNs: Long, endNs: Long,
                      parent: Int, op: Int)

/** Spans and layer counters of one run, held in memory and written out
  * at the end (run.py derives self times from the spans). With
  * `on = false` spans are a plain pass-through, so the untraced run
  * executes the same calls without recording them. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  /** Operation id the next spans and listener events are attributed to. */
  var op: Int = -1
  /** Additive layer counters, keyed by metric name. */
  val counters: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  def add(name: String, v: Double): Unit = counters(name) += v

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = Span(name, t0, System.nanoTime(), parent, op)
        stack = stack.tail
      }
    }
}

/** Spark-side counters collected by the traced run's listeners. Events
  * arrive on Spark's listener bus; the benchmark thread drains the bus
  * after set-up (then resets) and after each operation, outside its
  * timing, so the totals cover exactly the timed operations. */
final class SparkCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var shuffleBytes = 0L
  var planningMs = 0L
  var batches = 0L; var batchRows = 0L
  val streamMs: mutable.Map[String, Long] =
    mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time during which at least one job ran: concurrent jobs (a
    * broadcast beside the main job) count once. */
  def jobWallMs: Long = synchronized {
    var (total, end) = (0L, Long.MinValue)
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0
    shuffleBytes = 0; planningMs = 0; batches = 0; batchRows = 0
    streamMs.clear(); jobSpans.clear()
  }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkCounters.this.synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkCounters.this.synchronized {
      jobStart.remove(e.jobId).foreach(t => jobSpans += ((t, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = SparkCounters.this.synchronized {
      stages += 1
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime; cpuNs += m.executorCpuTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkCounters.this.synchronized {
      tasks += 1
    }
  }

  val query: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = SparkCounters.this.synchronized {
      planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = SparkCounters.this.synchronized {
      val p = e.progress
      batches += 1; batchRows += p.numInputRows
      p.durationMs.forEach((k, v) => streamMs(k) += v.longValue)
    }
  }

  def register(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(query)
    s.streams.addListener(streaming)
  }
}
