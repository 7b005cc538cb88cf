package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query job/stage breakdown — the measurement half of guide §1.
  * Runs each named query once warm (after one untimed run) with a
  * SparkListener recording every job's wall time, stage count and task
  * count, then prints a breakdown sorted by cost. This is how the round-17
  * optimization log attributes a query's seconds to actions (DDL/DML
  * commits, scans, shuffles) rather than guessing from the total.
  * Usage: runMain graft.Profile <sfDir> <query> [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.preflight(spark, sfDir)

    final case class JobRec(id: Int, desc: String, start: Long,
                            var end: Long = -1L, var stages: Int = 0,
                            var tasks: Int = 0)
    val jobs = new scala.collection.concurrent.TrieMap[Int, JobRec]
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, desc, e.time)): Unit
        order.add(e.jobId): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        // attribute to the most recent unfinished job (approximation fine
        // for a sequential per-query profile)
        val sid = e.stageInfo.stageId
        jobs.values.toSeq.sortBy(-_.start)
          .find(j => j.end < 0 || j.end >= e.stageInfo.completionTime.getOrElse(0L))
          .foreach { j => j.stages += 1; j.tasks += e.stageInfo.numTasks }
        val _ = sid
      }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm-up: JIT + artifact caches, so the profiled run matches the
      // bench's min-of-N figure, not its cold first sample
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"WARMUP FAILED $name: $e") }
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      jobs.clear(); order.clear()
      spark.sparkContext.addSparkListener(listener)
      // sample the query's driver thread every 10 ms and histogram the
      // deepest "interesting" frame — attributes the wall-minus-job gap
      // (driver planning / catalog commit / analysis) to actual code
      val mainThread = Thread.currentThread()
      val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val st = mainThread.getStackTrace
          if (st.nonEmpty) {
            val interesting = st.filter { e =>
              val c = e.getClassName
              c.startsWith("graft.") ||
              c.startsWith("org.apache.spark.sql.catalyst.optimizer") ||
              c.startsWith("org.apache.spark.sql.catalyst.analysis") ||
              c.startsWith("org.apache.spark.sql.execution")
            }
            val frame =
              if (interesting.isEmpty)
                st.drop(2).headOption
                  .map(e => s"${e.getClassName}.${e.getMethodName}")
                  .getOrElse("?")
              else {
                // innermost frame + up to 3 caller frames, deduped by
                // class, so the histogram names the call CHAIN
                val chain = interesting.map(e =>
                  s"${e.getClassName.split('.').last}.${e.getMethodName}")
                (chain.take(1) ++ chain.drop(1).distinct.take(3))
                  .mkString(" <- ")
              }
            hist.merge(frame, 1, (a, b) => a + b): Unit
          }
          Thread.sleep(10)
        }
      }, "graft-profile-sampler")
      sampler.setDaemon(true); sampler.start()
      val opens0 = graft.catalog.GraftStorage.fileOpens.get()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"RUN FAILED $name: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      val opensN = graft.catalog.GraftStorage.fileOpens.get() - opens0
      sampling = false; sampler.join(200)
      println(f"fileOpens=$opensN%d")
      // let the listener bus drain before reading
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n===== $name%s  wall=$wall%.2f s  jobs=${jobs.size}%d =====")
      import scala.jdk.CollectionConverters._
      val recs = order.asScala.toSeq.flatMap(jobs.get)
      val totJob = recs.map(r => math.max(0L, r.end - r.start)).sum / 1e3
      println(f"sum(job wall)=$totJob%.2f s  (gaps = driver/planning/commit time)")
      recs.foreach { r =>
        val ms = if (r.end < 0) -1L else r.end - r.start
        println(f"  job ${r.id}%3d ${ms}%6d ms  stages=${r.stages}%2d tasks=${r.tasks}%4d  ${r.desc.take(110)}%s")
      }
      println("  -- driver-thread sample histogram (10 ms ticks) --")
      import scala.jdk.CollectionConverters._
      hist.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (f, n) =>
        println(f"  ${n * 10}%6d ms  $f%s")
      }
      try spark.catalog.clearCache() catch { case _: Throwable => () }
    }
    spark.stop()
  }
}
