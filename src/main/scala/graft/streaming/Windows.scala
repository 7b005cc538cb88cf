package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{GraftSession, QueryDef, Tables}
import graft.util.Det._

/** Event-time windowing + Structured Streaming (SURVEY.md §2.2 streaming
  * rows; reference S4/K4 re-expressed Spark-first).
  *
  * q70-q72 run the window operators in batch mode — `window()` /
  * `session_window()` produce identical results on batch and streaming
  * DataFrames, so the oracle-checked batch plan IS the streaming plan's
  * semantics. q73 then runs a *real* Structured Streaming query
  * (readStream -> watermark -> windowed agg -> foreachBatch parquet sink,
  * Trigger.AvailableNow) and returns its result table, proving the
  * streaming path end-to-end inside the same correctness gate.
  *
  * Scale: event-time windows pre-aggregate per partition before the
  * group-key shuffle; session windows shuffle once on user_id. Watermarks
  * bound streaming state — without one, a 100 TB stream's window state
  * grows forever.
  */
object Windows {

  /** events schema AS STORED, derived from the parquet footer once per
    * (JVM, fixture dir). Streaming sources must declare a schema up front,
    * and hard-coding one is exactly the drift that broke round 7: the
    * fixture's ts encoding changed (TIMESTAMP(NANOS) → TIMESTAMP_NTZ(µs))
    * and a hard-coded `ts: LongType` schema decoded the new µs values as
    * raw longs — wrong by 1000×, silently. Reading the footer makes the
    * stream see whatever the batch reader sees; normalizeEventsTs (the
    * same seam Tables uses) then maps any recognized encoding onto
    * TIMESTAMP and throws on an unrecognized one.
    *
    * Keyed by content fingerprint (every file's name:mtime:size, the same
    * [[Partitioned.fixtureKey]] the warehouse uses), NOT by path: an
    * in-place fixture regeneration under a different encoding would
    * otherwise leave a long-lived JVM streaming with the stale footer
    * schema while the batch path re-reads the new one — the exact drift
    * class normalizeEventsTs defends against, reintroduced within one
    * session. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private def eventsSchema(s: SparkSession, d: String): StructType =
    schemaCache.computeIfAbsent(graft.sources.Partitioned.fixtureKey(d),
      _ => s.read.parquet(s"$d/events.parquet").schema)

  /** Streaming mirror of `Tables(s, d, "events")`: footer-derived schema,
    * ts normalized to TIMESTAMP. `path`/`glob` differ from the fixture dir
    * when a query reads a staged source (sentinel dirs). */
  private def eventsStream(s: SparkSession, d: String, path: String,
      glob: String, opts: (String, String)*): org.apache.spark.sql.DataFrame = {
    var r = s.readStream.schema(eventsSchema(s, d))
      .option("pathGlobFilter", glob)
    opts.foreach { case (k, v) => r = r.option(k, v) }
    Tables.normalizeEventsTs(r.parquet(path))
  }

  /** Run a streaming query with state sized to 8 shuffle partitions and
    * the nanos-timestamp read shim on, restoring BOTH on exit.
    *
    * Shuffle partitions: streaming results are partition-count-independent,
    * but every state store instance (numShufflePartitions ×
    * stores-per-stateful-op) pays init + per-batch commit I/O — at local
    * test scale 32 partitions is pure overhead (measured 2-3× on the
    * stream-stream join). On a real cluster this knob is sized to executor
    * count before the query starts (it is fixed into the checkpoint at
    * first run).
    *
    * Both settings are scoped with try/finally: a declared query must not
    * side-effect shared session state, or concurrent queries in the same
    * session observe each other's configs.
    */
  private def withStreamConf[T](s: SparkSession)(f: => T): T = {
    val kShuf = "spark.sql.shuffle.partitions"
    val kNanos = "spark.sql.legacy.parquet.nanosAsLong"
    val prevShuf = s.conf.get(kShuf)
    val prevNanos = s.conf.getOption(kNanos)
    s.conf.set(kShuf, "8")
    s.conf.set(kNanos, "true")
    try f
    finally {
      s.conf.set(kShuf, prevShuf)
      prevNanos.fold(s.conf.unset(kNanos))(v => s.conf.set(kNanos, v))
    }
  }

  /** Stable per-(query, sfDir) working dirs, created once per JVM.
    *
    * Reusing the checkpoint across invocations means the second run of a
    * query restarts from committed offsets, finds no new files, and runs
    * zero batches — it measures incremental-restart cost, which is the
    * honest production number for a long-lived stream (the bench's
    * min-of-2 then records it). That requires the sink to be durable: a
    * memory sink is re-created empty on every (re)start, so a no-new-data
    * restart would read back nothing. All real-streaming queries therefore
    * land results in parquet under `out/` via foreachBatch and read back
    * from there — correct on the first run, on incremental reruns, and
    * under any micro-batch cut.
    */
  private val stableDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private def stableDir(name: String, d: String): java.nio.file.Path =
    stableDirs.computeIfAbsent(name + ":" + d,
      _ => Files.createTempDirectory(s"graft_${name}_"))

  /** Sink/checkpoint consistency guard for the append-semantics sinks
    * (per-batch_id partitions and update-mode appends): an out dir is
    * only valid TOGETHER WITH the checkpoint that produced it. A fresh
    * checkpoint reprocesses the source from offset zero, so any surviving
    * out dir from a previous (killed, or differently-batched) run would
    * double-count or orphan rows — q141 versions its state for exactly
    * this reason. Called before every start: if the checkpoint is absent
    * but the sink exists, the sink is stale — sweep it. (Re-runs WITH the
    * checkpoint replay no batches and append nothing, so the pair stays
    * consistent; StreamingSpec's kill/rerun case drives both paths.) */
  private[graft] def sweepStaleSink(ckpt: String, out: String): Unit = {
    val (c, o) = (java.nio.file.Paths.get(ckpt), java.nio.file.Paths.get(out))
    if (!Files.exists(c) && Files.exists(o)) graft.util.Fs.rmTree(o)
  }

  /** One source dir = symlinked fixture + a far-future SENTINEL file (a
    * single file source keeps watermark bookkeeping trivially global).
    * The sentinel (user_id 1000000, event_type "flush", max(ts) + 3 h)
    * pushes the final watermark past every real row so append-mode
    * stateful operators flush at drain — the standard end-of-stream
    * pattern shared by q77 (session close) and q117 (outer-join null
    * emission). Built once per (query, sfDir): the sentinel timestamp
    * comes from the parquet FOOTER STATS via aggregate pushdown (no
    * filter, no other column -> MAX(ts) is answered from metadata) — at
    * 100 TB this is a metadata read, not an extra pass. */
  private def sentinelSrc(s: SparkSession, d: String,
      base: java.nio.file.Path, nSentinels: Int = 1): java.nio.file.Path = {
    val srcDir = base.resolve("src")
    if (!Files.exists(srcDir)) {
      val sch = eventsSchema(s, d)
      val kAgg = "spark.sql.parquet.aggregatePushDown"
      val prevAgg = s.conf.getOption(kAgg)
      s.conf.set(kAgg, "true")
      // max() on the RAW column (no cast above it) keeps the aggregate
      // answerable from footer stats; the external value's Java type then
      // depends on the fixture's encoding, so match rather than getLong.
      val maxTsSec: Long = {
        val v =
          try s.read.parquet(s"$d/events.parquet").agg(max("ts"))
            .collect()(0).get(0)
          finally prevAgg.fold(s.conf.unset(kAgg))(v => s.conf.set(kAgg, v))
        v match {
          case l: java.lang.Long => l / 1000000000L // legacy nanos-as-long
          case ldt: java.time.LocalDateTime => // TIMESTAMP_NTZ, wall-clock UTC
            ldt.toEpochSecond(java.time.ZoneOffset.UTC)
          case t: java.sql.Timestamp => t.getTime / 1000L
          case i: java.time.Instant => i.getEpochSecond
          case other => throw new IllegalStateException(
            s"max(events.ts) returned unrecognized type ${other.getClass}")
        }
      }
      // The sentinel file must be byte-compatible with the fixture under
      // ONE stream schema, so its ts is written in the fixture's native
      // encoding (nanos long / NTZ LocalDateTime / UTC timestamp).
      def tsValue(sec: Long): Any = sch("ts").dataType match {
        case LongType => sec * 1000000000L
        case TimestampNTZType =>
          java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
        case TimestampType =>
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
        case other => throw new IllegalStateException(
          s"events.ts has unrecognized encoding $other")
      }
      val staging = Files.createTempDirectory("graft_sess_src_")
      Files.createSymbolicLink(staging.resolve("events.parquet"),
        java.nio.file.Paths.get(d, "events.parquet"))
      // nSentinels = 2 for operators whose FLUSH itself is watermark-gated
      // (stream-stream outer join): the watermark a batch evicts with is
      // the one computed from PRIOR batches, so sentinel #1's advance only
      // takes effect in the batch that processes sentinel #2 (+6 h) — the
      // engine ran no further no-data batch after the last file here
      // (measured: the last-hour null rows stayed in state with one
      // sentinel).
      (1 to nSentinels).foreach { i =>
        val tmpOut = Files.createTempDirectory("graft_sentinel_")
        val row = org.apache.spark.sql.Row.fromSeq(sch.fields.toSeq.map { f =>
          f.name match {
            case "event_id" => -i.toLong
            case "ts" => tsValue(maxTsSec + 3L * 3600 * i)
            case "user_id" => 1000000L
            case "event_type" => "flush"
            case "value" => 0.0
            case "props" => ""
            case other => throw new IllegalStateException(
              s"unexpected events column $other")
          }
        })
        s.createDataFrame(java.util.List.of(row), sch)
          .coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
        val sentinelFile = graft.util.Fs.children(tmpOut)
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.copy(sentinelFile, staging.resolve(s"zz_sentinel$i.parquet"))
      }
      Files.move(staging, srcDir) // atomic publish: exists => complete
    }
    srcDir
  }

  val defs: Seq[QueryDef] = Seq(

    // --------------------------------------------------------------- q70:
    // tumbling 1-hour event-time windows per event_type.
    QueryDef(
      "q70_tumbling_window",
      (s, d) =>
        Tables(s, d, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(col("window.start").as("hour_start"), col("event_type"),
            col("n"), col("sum_value"))
          .orderBy("hour_start", "event_type"),
      Some("""
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour_start, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY hour_start, event_type""")),

    // --------------------------------------------------------------- q71:
    // sliding windows (2h length, 1h slide) — each event lands in two
    // windows; Spark expands via its window generator, the oracle via an
    // explicit 2-element unnest.
    QueryDef(
      "q71_sliding_window",
      (s, d) =>
        Tables(s, d, "events")
          .groupBy(window(col("ts"), "2 hours", "1 hour"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(col("window.start").as("win_start"), col("n"), col("sum_value"))
          .orderBy("win_start"),
      Some("""
        WITH e AS (SELECT unnest([time_bucket(INTERVAL 1 HOUR, ts),
                                  time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR]) AS win_start,
                          value
                   FROM events)
        SELECT win_start, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
        FROM e GROUP BY 1
        ORDER BY win_start""")),

    // --------------------------------------------------------------- q72:
    // session windows (10-minute gap) per user — Spark's session_window
    // vs. the classic gaps-and-islands formulation in the oracle.
    // Spark's session end = last event + gap; a new session starts only
    // when the gap is STRICTLY greater than 10 minutes — an event landing
    // exactly at the previous session's end MERGES (verified empirically
    // and pinned by DynamicSessionPropertySpec; the fixture's µs-random
    // timestamps never hit the boundary, which hid this for 7 rounds).
    QueryDef(
      "q72_session_window",
      (s, d) =>
        Tables(s, d, "events")
          .filter(col("user_id") < 20)
          .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(col("user_id"), col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n"), col("sum_value"))
          .orderBy("user_id", "session_start"),
      Some("""
        WITH e AS (SELECT user_id, ts, value,
                          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                    > INTERVAL 10 MINUTE
                               OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                               THEN 1 ELSE 0 END AS new_session
                   FROM events WHERE user_id < 20),
        s2 AS (SELECT user_id, ts, value,
                      SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM e)
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 10 MINUTE AS session_end,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
        FROM s2 GROUP BY user_id, sid
        ORDER BY user_id, session_start""")),

    // -------------------------------------------------------------- q172:
    // DYNAMIC-gap session windows — the gap is an EXPRESSION per event
    // (purchases close their session after 5 minutes, everything else
    // after 10): the "checkout ends the visit faster" semantics a fixed
    // gap can't express. Spark's session_window(ts, gapExpr) merges each
    // event's [ts, ts+gap) window with any overlap; the oracle replays
    // that as gaps-and-islands over the RUNNING MAX window end (an event
    // opens a new session iff its ts is STRICTLY past every previous
    // window's end — boundary contact merges, per the empirical rule
    // DynamicSessionPropertySpec pins — and plain lag(end) under-merges
    // when an early long-gap event outlives its successor). All interval
    // arithmetic in exact integer microseconds. Same one-user_id-shuffle
    // shape as q72.
    QueryDef(
      "q172_dynamic_gap_sessions",
      (s, d) =>
        Tables(s, d, "events")
          .filter(col("user_id") < 20)
          .groupBy(
            session_window(col("ts"),
              when(col("event_type") === "purchase", "5 minutes")
                .otherwise("10 minutes")),
            col("user_id"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n"), col("sum_value"))
          .orderBy("user_id", "session_start"),
      Some("""
        WITH e AS (SELECT user_id, ts, event_id, value,
                     epoch_us(ts) + CASE WHEN event_type = 'purchase'
                       THEN 300000000 ELSE 600000000 END AS end_us
                   FROM events WHERE user_id < 20),
        r AS (SELECT user_id, ts, event_id, value, end_us,
                CASE WHEN MAX(end_us) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     IS NULL
                  OR epoch_us(ts) > MAX(end_us) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_s
              FROM e),
        -- the s2 window MUST use the same (ts, event_id) tiebreak as r:
        -- ordering by (ts, end_us) here could assign an exact-µs-tied row
        -- to the wrong session when the cumulative SUM visits ties in a
        -- different order than the running-max frame did.
        s2 AS (SELECT user_id, ts, value, end_us,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM r)
        SELECT user_id, MIN(ts) AS session_start,
               make_timestamp(MAX(end_us)) AS session_end,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
        FROM s2 GROUP BY user_id, sid
        ORDER BY user_id, session_start""")),

    // --------------------------------------------------------------- q73:
    // REAL Structured Streaming: file stream source -> event-time
    // watermark -> tumbling 6h window -> complete-mode foreachBatch
    // parquet sink, Trigger.AvailableNow. Complete mode re-emits the full
    // refreshed result each batch, so the sink overwrite always holds the
    // latest full table; oracle = the batch equivalent (batch/stream
    // equivalence is the contract).
    QueryDef(
      "q73_stream_tumbling",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        val base = stableDir("q73", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        val stream = eventsStream(s, d, d, "events.parquet")
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        val q = stream.writeStream
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("overwrite").parquet(out): Unit
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .select(col("window.start").as("win_start"), col("n"), col("sum_value"))
          .orderBy("win_start")
      },
      Some("""
        SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1
        ORDER BY win_start""")),

    // --------------------------------------------------------------- q74:
    // REAL streaming chained stateful operators: dropDuplicates →
    // aggregation in one query (distinct-users-per-hour — streaming
    // forbids COUNT(DISTINCT), so dedup-then-count is the idiomatic
    // rewrite). The dedup key includes the truncated hour, so the
    // surviving representative is irrelevant to the count and the result
    // is arrival-order-independent — exactly hash-comparable to the
    // batch oracle. Dedup state is watermark-bounded.
    QueryDef(
      "q74_stream_dedup_agg",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        val base = stableDir("q74", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        val stream = eventsStream(s, d, d, "events.parquet")
          .withColumn("hr", date_trunc("hour", col("ts")))
          .withWatermark("ts", "1 hour")
          .dropDuplicates("hr", "user_id", "event_type")
          .groupBy(col("hr"), col("event_type"))
          .agg(count(lit(1)).as("n_users"))
        val q = stream.writeStream
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("overwrite").parquet(out): Unit
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .select(col("hr").as("hr_start"), col("event_type"), col("n_users"))
          .orderBy("hr_start", "event_type")
      },
      Some("""
        SELECT date_trunc('hour', ts) AS hr_start, event_type,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1, 2
        ORDER BY hr_start, event_type""")),

    // --------------------------------------------------------------- q75:
    // REAL stream-stream inner join: clicks ⋈ errors per user within a
    // 30-minute window after the click. Both sides watermarked + the
    // time-range condition bounds join state (without both, a 100 TB
    // stream buffers forever). Inner-join output is arrival-order
    // independent, so the batch range join is an exact oracle.
    QueryDef(
      "q75_stream_stream_join",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        val base = stableDir("q75", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        def side(tpe: String, prefix: String) =
          eventsStream(s, d, d, "events.parquet")
            .filter(col("event_type") === tpe)
            .select(col("event_id").as(s"${prefix}_id"), col("user_id").as(s"${prefix}_user"),
              col("ts").as(s"${prefix}_ts"))
            .withWatermark(s"${prefix}_ts", "1 hour")
        val joined = side("click", "c").join(
          side("error", "e"),
          expr("""c_user = e_user AND
                  e_ts >= c_ts AND e_ts <= c_ts + INTERVAL 30 MINUTES"""))
        // Append mode emits each joined row in exactly one micro-batch, but
        // foreachBatch itself is only AT-LEAST-once: a crash between the
        // parquet commit and the checkpoint offset commit re-runs the batch
        // on restart. The sink is made idempotent PER BATCH by writing each
        // batch to its own batch_id=<id> partition with overwrite — a retry
        // of batch N replaces batch N's files instead of duplicating them
        // (the parquet analog of the documented "use batchId to deduplicate"
        // foreachBatch contract).
        val q = joined.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.write.mode("overwrite").parquet(s"$out/batch_id=$id"): Unit
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .select(col("c_id"), col("e_id"), col("c_user").as("user_id"))
          .orderBy("c_id", "e_id")
      },
      Some("""
        SELECT c.event_id AS c_id, e.event_id AS e_id, c.user_id
        FROM events c JOIN events e
          ON c.event_type = 'click' AND e.event_type = 'error'
         AND c.user_id = e.user_id
         AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE
        ORDER BY c_id, e_id""")),

    // --------------------------------------------------------------- q76:
    // foreachBatch sink — the idiomatic escape hatch when the built-in
    // sinks can't express the write (upserts, multi-table writes, JDBC).
    // Here it implements a keyed UPSERT of a streaming aggregate onto
    // parquet: update-mode emits each window's refreshed totals per
    // micro-batch, foreachBatch appends them stamped with the batch id,
    // and readers take the latest version per key (the parquet analog of
    // the canonical foreachBatch + MERGE INTO pattern). Update mode means
    // results don't wait for the watermark to close a window — and the
    // last-writer-wins read-back makes the final table equal the batch
    // aggregate regardless of how many micro-batches the file source cut,
    // so the batch oracle is exact.
    QueryDef(
      "q76_foreachbatch_upsert",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.expressions.Window
        val base = stableDir("q76", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        val stream = eventsStream(s, d, d, "events.parquet",
            "maxFilesPerTrigger" -> "1")
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        val q = stream.writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.withColumn("batch_id", lit(id))
              .write.mode("append").parquet(out): Unit
          }
          .start()
        q.awaitTermination()
        val wv = Window.partitionBy(col("win_start"), col("event_type"))
          .orderBy(col("batch_id").desc)
        s.read.parquet(out)
          .select(col("window.start").as("win_start"), col("event_type"),
            col("n"), col("sum_value"), col("batch_id"))
          .withColumn("rv", row_number().over(wv))
          .filter(col("rv") === 1)
          .select("win_start", "event_type", "n", "sum_value")
          .orderBy("win_start", "event_type")
      },
      Some("""
        SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY win_start, event_type""")),

    // --------------------------------------------------------------- q77:
    // REAL streaming session windows: the watermark both bounds session
    // state AND closes sessions for emission (append mode — a session row
    // is final once the watermark passes its gap-extended end; complete
    // mode isn't supported for session aggregations). Batch q72 is the
    // oracle. Sessions within the final watermark delay of the stream's
    // max event time would stay open at drain, so a far-future SENTINEL
    // event (distinct user) is added to push the watermark past every real
    // session — the standard end-of-stream flush pattern. The sentinel is
    // excluded at SINK READ-BACK, not inside the streaming plan: a
    // user_id filter anywhere above the agg is pushed through it, merged
    // with the pre-agg filter, and simplified to plain user_id < 20 —
    // silently dropping the sentinel BEFORE the watermark operator (the
    // optimizer doesn't model the watermark side-effect; verified via
    // PushedFilters in the streaming scan).
    QueryDef(
      "q77_stream_session_window",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        val base = stableDir("q77", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        val srcDir = sentinelSrc(s, d, base)
        val stream = eventsStream(s, d, srcDir.toString, "*.parquet")
          .withWatermark("ts", "1 hour")
          // state bound: only tracked users + the sentinel reach the agg
          // (the sentinel must pass the watermark node above, so the user
          // filter sits AFTER withWatermark)
          .filter(col("user_id") < 20 || col("user_id") === 1000000L)
          .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        // Append mode emits each closed session in exactly one micro-batch,
        // but foreachBatch is at-least-once on crash-retry — so each batch
        // lands in its own batch_id=<id> partition with overwrite (retry of
        // batch N replaces, never duplicates). Empty batches write empty
        // (schema-bearing) partitions, which the read-back tolerates.
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.write.mode("overwrite").parquet(s"$out/batch_id=$id"): Unit
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .filter(col("user_id") < 20)
          .select(col("user_id"), col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n"), col("sum_value"))
          .orderBy("user_id", "session_start")
      },
      Some("""
        WITH e AS (SELECT user_id, ts, value,
                          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                    > INTERVAL 10 MINUTE
                               OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                               THEN 1 ELSE 0 END AS new_session
                   FROM events WHERE user_id < 20),
        s2 AS (SELECT user_id, ts, value,
                      SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM e)
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 10 MINUTE AS session_end,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
        FROM s2 GROUP BY user_id, sid
        ORDER BY user_id, session_start""")),

    // --------------------------------------------------------------- q78:
    // REAL arbitrary stateful streaming: flatMapGroupsWithState with a
    // custom per-user state (event count + distinct-type set). State
    // fields are chosen ORDER-FREE (counts and set sizes — never a float
    // fold over arrival order), so the drained result is deterministic and
    // the batch aggregate is an exact oracle. Update mode re-emits a key's
    // state each batch it changes; counters are monotone, so last-writer-
    // wins on read-back = max per key (single-file source → one batch, but
    // the read-back stays correct under any batching).
    QueryDef(
      "q78_custom_state_agg",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        val base = stableDir("q78", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        implicit val longEnc = org.apache.spark.sql.Encoders.scalaLong
        implicit val rowEnc = org.apache.spark.sql.Encoders
          .product[(Long, String)]
        implicit val stEnc = org.apache.spark.sql.Encoders
          .product[(Long, Set[String])]
        implicit val outEnc = org.apache.spark.sql.Encoders
          .product[(Long, Long, Int)]
        val stream = eventsStream(s, d, d, "events.parquet")
          .filter(col("user_id") < 50)
          .select(col("user_id"), col("event_type"))
          .as[(Long, String)](rowEnc)
        val updated = stream.groupByKey(_._1)(longEnc)
          .flatMapGroupsWithState[(Long, Set[String]), (Long, Long, Int)](
            OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
            (user: Long, rows: Iterator[(Long, String)],
             state: GroupState[(Long, Set[String])]) =>
              val (n0, types0) = state.getOption.getOrElse((0L, Set.empty[String]))
              var n = n0; var types = types0
              rows.foreach { case (_, t) => n += 1; types += t }
              state.update((n, types))
              Iterator.single((user, n, types.size))
          }(stEnc, outEnc)
        val q = updated.toDF("user_id", "n_events", "n_types")
          .writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(out): Unit
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .groupBy("user_id")
          .agg(max(col("n_events")).as("n_events"), max(col("n_types")).as("n_types"))
          .orderBy("user_id")
      },
      Some("""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_types
        FROM events
        WHERE user_id < 50
        GROUP BY user_id
        ORDER BY user_id""")),

    // --------------------------------------------------------------- q98:
    // REAL stream-STATIC join: the streaming enrichment pattern — each
    // micro-batch of events joins a static dimension table (here nation
    // via user_id % 25), then aggregates per 12h window per nation name.
    // The static side is re-planned per micro-batch and explicitly
    // broadcast: no stream-side state is kept for the join (unlike
    // stream-stream q75), so at 100 TB/day the enrichment costs one
    // broadcast hash probe per row, and the only stateful operator is the
    // watermark-bounded window aggregate. Complete-mode overwrite sink as
    // q73 (re-emits the refreshed full result; finite fixture keeps it
    // small — production would use append/update on the windowed agg).
    QueryDef(
      "q98_stream_static_join",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        val base = stableDir("q98", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        val nations = Tables(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("nation_key"),
            col("n_name"))
        val stream = eventsStream(s, d, d, "events.parquet")
          .withWatermark("ts", "1 hour")
          .withColumn("nation_key", col("user_id") % 25)
          .join(broadcast(nations), "nation_key")
          .groupBy(window(col("ts"), "12 hours"), col("n_name"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        val q = stream.writeStream
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("overwrite").parquet(out): Unit
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .select(col("window.start").as("win_start"), col("n_name"),
            col("n"), col("sum_value"))
          .orderBy("win_start", "n_name")
      },
      Some("""
        SELECT time_bucket(INTERVAL 12 HOUR, e.ts) AS win_start, n.n_name,
               COUNT(*) AS n,
               CAST(SUM(CAST(e.value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
        FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        GROUP BY 1, 2
        ORDER BY win_start, n_name""")),

    // -------------------------------------------------------------- q103:
    // REAL streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark.
    // q74's dropDuplicates holds every key it has ever seen (its dedup key
    // carries no event-time column, so nothing is ever evicted) — fine for
    // an hour-bucketed key space, fatal for a 100 TB/day stream keyed by
    // event id. The WithinWatermark variant evicts each key's state once
    // the watermark passes its event time, so state is O(keys per
    // watermark horizon), not O(keys ever). Duplicates are injected by
    // exploding every source row into two identical copies (an
    // at-least-once upstream — e.g. a producer retry); dedup on event_id
    // restores exactly-once, proven by landing on the same per-type
    // totals as the clean batch table.
    QueryDef(
      "q103_stream_dedup_bounded",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        val base = stableDir("q103", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        val stream = eventsStream(s, d, d, "events.parquet")
          .withColumn("copy", explode(array(lit(1), lit(2)))).drop("copy")
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        val q = stream.writeStream
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("overwrite").parquet(out): Unit
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .select(col("event_type"), col("n"), col("sum_value"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // -------------------------------------------------------------- q117:
    // stream-stream LEFT OUTER interval join — q75's inner join only ever
    // emits matches; the outer variant must ALSO emit every unmatched
    // click with NULL error columns, and may only do so once the
    // watermark proves no matching error can still arrive (the join state
    // eviction and the null emission are the same event). The far-future
    // sentinel (shared staging with q77) pushes the final watermark 2 h
    // past max(ts), closing every click's 30-minute match window, so the
    // drained stream equals the batch LEFT JOIN exactly. The q77 pushdown
    // lesson applies DOUBLY here: a plain type filter placed after
    // withWatermark is still PUSHED BELOW the watermark node by the
    // optimizer, silently dropping the sentinel before it can advance the
    // watermark (measured: the last hour's null rows stayed in state). So
    // each side's filter explicitly ADMITS the sentinel user alongside
    // its type, and the sentinel pairs are excluded at sink read-back.
    QueryDef(
      "q117_stream_stream_outer_join",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        val base = stableDir("q117", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        val srcDir = sentinelSrc(s, d, base, nSentinels = 2)
        def side(tpe: String, prefix: String) =
          eventsStream(s, d, srcDir.toString, "*.parquet")
            .select(col("event_id").as(s"${prefix}_id"),
              col("user_id").as(s"${prefix}_user"),
              col("ts").as(s"${prefix}_ts"),
              col("event_type").as(s"${prefix}_type"))
            .withWatermark(s"${prefix}_ts", "1 hour")
            .filter(col(s"${prefix}_type") === tpe ||
              col(s"${prefix}_user") === 1000000L)
            .drop(s"${prefix}_type")
        val joined = side("click", "c").join(
          side("error", "e"),
          expr("""c_user = e_user AND
                  e_ts >= c_ts AND e_ts <= c_ts + INTERVAL 30 MINUTES"""),
          "left_outer")
        val q = joined.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.write.mode("overwrite").parquet(s"$out/batch_id=$id"): Unit
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .filter(col("c_user") =!= 1000000L)
          .select(col("c_id"), col("e_id"), col("c_user").as("user_id"))
          .orderBy(col("c_id"), col("e_id"))
      },
      Some("""
        SELECT c.event_id AS c_id, e.event_id AS e_id, c.user_id
        FROM events c LEFT JOIN events e
          ON e.event_type = 'error' AND c.user_id = e.user_id
         AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE
        WHERE c.event_type = 'click'
        ORDER BY c_id, e_id NULLS FIRST""")),

    // -------------------------------------------------------------- q174:
    // stream-stream FULL OUTER interval join — completes the streaming
    // join matrix (q75 inner, q117 left-outer): unmatched CLICKS emit
    // null error columns AND unmatched ERRORS emit null click columns,
    // each only once the watermark proves no partner can still arrive.
    // Same state bound (both sides watermarked + the time-range
    // condition), same two-sentinel drain and pushdown-proof sentinel
    // admission as q117; the oracle is the batch FULL JOIN over the two
    // typed slices. Null-emission rows for BOTH sides double the q117
    // read-back care: sentinel pairs filter on coalesce(c_user, e_user).
    QueryDef(
      "q174_stream_stream_full_outer",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        val base = stableDir("q174", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        val srcDir = sentinelSrc(s, d, base, nSentinels = 2)
        def side(tpe: String, prefix: String) =
          eventsStream(s, d, srcDir.toString, "*.parquet")
            .select(col("event_id").as(s"${prefix}_id"),
              col("user_id").as(s"${prefix}_user"),
              col("ts").as(s"${prefix}_ts"),
              col("event_type").as(s"${prefix}_type"))
            .withWatermark(s"${prefix}_ts", "1 hour")
            .filter(col(s"${prefix}_type") === tpe ||
              col(s"${prefix}_user") === 1000000L)
            .drop(s"${prefix}_type")
        val joined = side("click", "c").join(
          side("error", "e"),
          expr("""c_user = e_user AND
                  e_ts >= c_ts AND e_ts <= c_ts + INTERVAL 30 MINUTES"""),
          "full_outer")
        val q = joined.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.write.mode("overwrite").parquet(s"$out/batch_id=$id"): Unit
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .filter(coalesce(col("c_user"), col("e_user")) =!= 1000000L)
          .select(col("c_id"), col("e_id"),
            coalesce(col("c_user"), col("e_user")).as("user_id"))
          .orderBy(col("c_id").asc_nulls_first, col("e_id").asc_nulls_first)
      },
      Some("""
        SELECT c.event_id AS c_id, e.event_id AS e_id,
               COALESCE(c.user_id, e.user_id) AS user_id
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        FULL JOIN (SELECT * FROM events WHERE event_type = 'error') e
          ON c.user_id = e.user_id
         AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE
        ORDER BY c_id NULLS FIRST, e_id NULLS FIRST""")),

    // -------------------------------------------------------------- q110:
    // transformWithState on RocksDB — Spark 4's arbitrary-state successor
    // to map/flatMapGroupsWithState: named, typed state variables on an
    // explicit handle (here a ValueState counter + ValueState max + a
    // MapState of per-event-type counts), with the RocksDB provider that
    // actually scales (incremental checkpoints, state off the JVM heap, so
    // 100 TB-of-keys state never OOMs an executor). Every state field is
    // ORDER-FREE (counts, set sizes, max) so the drained result is
    // deterministic and the batch aggregate below is an exact oracle.
    // Update mode re-emits a key's stats each batch they change; all three
    // outputs are monotone, so last-writer-wins on read-back = max per key.
    // TimeMode.None/TTL.NONE keep the declared query batch-equivalent —
    // TTL eviction is wall-clock-dependent and belongs to the spec
    // (StreamingSpec), not an oracle-paired result.
    QueryDef(
      "q110_transform_with_state",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val base = stableDir("q110", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        val kProv = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(kProv)
        s.conf.set(kProv,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          implicit val longEnc = org.apache.spark.sql.Encoders.scalaLong
          implicit val rowEnc =
            org.apache.spark.sql.Encoders.product[(Long, String, Double)]
          implicit val outEnc =
            org.apache.spark.sql.Encoders.product[(Long, Long, Int, Double)]
          val stream = eventsStream(s, d, d, "events.parquet")
            .filter(col("user_id") < 50)
            .select(col("user_id"), col("event_type"), col("value"))
            .as[(Long, String, Double)](rowEnc)
          val updated = stream.groupByKey(_._1)(longEnc)
            .transformWithState(new UserStatsProcessor, TimeMode.None(),
              OutputMode.Update())(outEnc)
          val q = updated.toDF("user_id", "n_events", "n_types", "max_value")
            .writeStream
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("append").parquet(out): Unit
            }
            .start()
          q.awaitTermination()
        } finally prev.fold(s.conf.unset(kProv))(v => s.conf.set(kProv, v))
        s.read.parquet(out)
          .groupBy("user_id")
          .agg(max(col("n_events")).as("n_events"),
            max(col("n_types")).as("n_types"),
            max(col("max_value")).as("max_value"))
          .orderBy("user_id")
      },
      Some("""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_types,
               MAX(value) AS max_value
        FROM events
        WHERE user_id < 50
        GROUP BY user_id
        ORDER BY user_id""")),

    // -------------------------------------------------------------- q135:
    // REAL chained event-time window aggregations in ONE streaming query
    // (the Spark 3.4+ multiple-stateful-operator path): hourly counts per
    // event_type -> daily rollup (peak hour, day total, active hours) over
    // the FINALIZED hourly windows via window_time(). The first agg's
    // append output feeds the second's state inside the same micro-batch
    // pipeline — no intermediate sink, one checkpoint — which is the
    // shape a metrics pipeline wants at scale: the second agg's input is
    // already |windows|-sized, not event-sized, so its state and shuffle
    // are tiny regardless of corpus size. Both aggs require append mode;
    // the sentinel (event_type 'flush') pushes the final watermark past
    // the last real day so BOTH operators drain at AvailableNow
    // termination, and is dropped at read-back.
    QueryDef(
      "q135_chained_stream_aggs",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        val base = stableDir("q135", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        // 2 sentinels: the daily agg evicts with the watermark computed
        // from PRIOR batches (same lag q117 measured), so sentinel #1's
        // advance reaches the second stateful operator only in the batch
        // that processes sentinel #2.
        val srcDir = sentinelSrc(s, d, base, nSentinels = 2)
        val hourly = eventsStream(s, d, srcDir.toString, "*.parquet")
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_hour"))
        val daily = hourly
          .withColumn("hw", window_time(col("window")))
          .groupBy(window(col("hw"), "1 day"), col("event_type"))
          .agg(max("n_hour").as("peak_hour"), sum("n_hour").as("n_day"),
            count(lit(1)).as("n_hours"))
        val q = daily.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.write.mode("overwrite").parquet(s"$out/batch_id=$id"): Unit
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .filter(col("event_type") =!= "flush")
          .select(col("window.start").as("day_start"), col("event_type"),
            col("peak_hour"), col("n_day"), col("n_hours"))
          .orderBy("day_start", "event_type")
      },
      Some("""
        WITH h AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hr, event_type,
                          count(*) AS n_hour
                   FROM events GROUP BY 1, 2)
        SELECT time_bucket(INTERVAL 1 DAY, hr) AS day_start, event_type,
               MAX(n_hour) AS peak_hour,
               CAST(SUM(n_hour) AS BIGINT) AS n_day,
               COUNT(*) AS n_hours
        FROM h GROUP BY 1, 2
        ORDER BY day_start, event_type""")),

    // -------------------------------------------------------------- q141:
    // REAL streaming CDC sink: the q131 MERGE plan run as the
    // foreachBatch body of a file-source changeset stream. The changeset
    // (same deterministic D/U/I derivation as q131) is staged as three
    // files — one per op class — and consumed one file per micro-batch;
    // each batch full-outer-merges into the CURRENT state version and
    // overwrites state version id+1. That versioning is the idempotence
    // contract: a crash-retried batch re-reads version id (untouched)
    // and rewrites the same version id+1 bytes, so exactly-once holds
    // across retries (StreamingSpec re-applies a batch and asserts the
    // state is unchanged). Because the op classes are key-disjoint,
    // sequential per-batch merges equal the one-shot q131 MERGE — the
    // oracle is the identical SQL. At 100 TB each batch's merge is the
    // q131 shape (delta-sized changes, key-partitioned join) and state
    // versions are what a lakehouse table format calls snapshots.
    QueryDef(
      "q141_stream_cdc_merge",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        import graft.relational.Temporal
        val base = stableDir("q141", d)
        val srcDir = base.resolve("changes")
        val stateRoot = base.resolve("state")
        val ckpt = base.resolve("ckpt").toString
        if (!Files.exists(srcDir)) {
          // state version 0 = the snapshot, all rows 'kept'
          Tables(s, d, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
            .withColumn("action", lit("kept"))
            .write.mode("overwrite").parquet(stateRoot.resolve("ver0").toString)
          val staging = Files.createTempDirectory("graft_q141_src_")
          val all = Temporal.cdcChangeset(s, d)
          Seq("D", "U", "I").zipWithIndex.foreach { case (op, i) =>
            val tmp = Files.createTempDirectory("graft_q141_part_")
            all.filter(col("op") === op)
              .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            graft.util.Fs.children(tmp)
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .foreach(p => Files.copy(p, staging.resolve(s"change$i.parquet")))
          }
          Files.move(staging, srcDir) // atomic publish: exists => complete
        }
        val chSchema = StructType(Seq(
          StructField("k", LongType), StructField("op", StringType),
          StructField("new_price", DoubleType)))
        val q = s.readStream.schema(chSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            applyCdcBatch(stateRoot, batch, id): Unit
          }
          .start()
        q.awaitTermination()
        s.read.parquet(latestStateVersion(stateRoot).toString)
          .orderBy("o_orderkey")
      },
      Some("""
        WITH snap AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
                      FROM orders),
        changes AS (
          SELECT o_orderkey AS k, 'D' AS op, CAST(NULL AS DOUBLE) AS new_price
          FROM snap WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT o_orderkey, 'U', o_totalprice + 100.0
          FROM snap WHERE o_orderkey % 10 = 1
          UNION ALL
          SELECT o_orderkey + 100000000, 'I', o_totalprice
          FROM snap WHERE o_orderkey % 10 = 2)
        SELECT COALESCE(s.o_orderkey, c.k) AS o_orderkey,
               s.o_custkey AS o_custkey,
               CASE WHEN c.op IS NOT NULL THEN c.new_price
                    ELSE s.o_totalprice END AS o_totalprice,
               s.o_orderdate AS o_orderdate,
               CASE WHEN c.op IS NULL THEN 'kept'
                    WHEN c.op = 'U' THEN 'updated'
                    ELSE 'inserted' END AS action
        FROM snap s FULL OUTER JOIN changes c ON s.o_orderkey = c.k
        WHERE c.op IS NULL OR c.op <> 'D'
        ORDER BY o_orderkey""")),

    // -------------------------------------------------------------- q162:
    // EVENT-TIME TIMERS — the transformWithState API surface q110 doesn't
    // touch: per-user stats are accumulated in state and emitted ONLY
    // when the user's inactivity timer fires (registerTimer at
    // last-seen + 1 h event time; handleExpiredTimer emits and clears).
    // This is the session-timeout / abandoned-cart primitive: nothing is
    // emitted while a key is active, state evicts itself on expiry, so
    // state size tracks ACTIVE keys — not keys-ever — at any stream
    // volume. Timer firing needs the watermark to pass the deadline in a
    // LATER batch (timers are evaluated against the watermark computed
    // from prior batches — the q117/q135 two-sentinel lesson), so the
    // source is the two-sentinel staging dir consumed one file per
    // micro-batch. Emitted stats are ORDER-FREE (count + integer
    // 1e4-unit value sum + max event-time µs), so the drained result is
    // deterministic and the batch aggregate is an exact oracle.
    QueryDef(
      "q162_timer_timeout_stats",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val base = stableDir("q162", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        val srcDir = sentinelSrc(s, d, base, nSentinels = 2)
        // transformWithState requires the RocksDB provider (multiple
        // column families: one per state variable + the timer registry)
        val kProv = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(kProv)
        s.conf.set(kProv,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          implicit val longEnc = org.apache.spark.sql.Encoders.scalaLong
          implicit val rowEnc =
            org.apache.spark.sql.Encoders.product[(Long, Long, Long)]
          implicit val outEnc =
            org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)]
          val stream = eventsStream(s, d, srcDir.toString, "*.parquet",
              "maxFilesPerTrigger" -> "1")
            .withWatermark("ts", "1 hour")
            // sentinel user must reach the watermark op; its own timer
            // output is dropped at read-back
            .filter(col("user_id") < 50 || col("user_id") === 1000000L)
            .select(col("user_id"),
              expr("CAST(round(value * 1e4) AS BIGINT)").as("value_u"),
              unix_micros(col("ts")).as("ts_us"))
            .as[(Long, Long, Long)](rowEnc)
          val emitted = stream.groupByKey(_._1)(longEnc)
            .transformWithState(new TimeoutStatsProcessor,
              TimeMode.EventTime(), OutputMode.Append())(outEnc)
          val q = emitted.toDF("user_id", "n_events", "sum_u", "max_ts_us")
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: DataFrame, id: Long) =>
              batch.write.mode("overwrite").parquet(s"$out/batch_id=$id"): Unit
            }
            .start()
          q.awaitTermination()
        } finally prev.fold(s.conf.unset(kProv))(v => s.conf.set(kProv, v))
        s.read.parquet(out)
          .filter(col("user_id") < 50)
          .select(col("user_id"), col("n_events"),
            round(col("sum_u").cast("double") / 1e4, 4).as("sum_value"),
            timestamp_micros(col("max_ts_us")).as("last_seen"))
          .orderBy("user_id")
      },
      Some("""
        SELECT user_id, COUNT(*) AS n_events,
               round(CAST(SUM(CAST(round(value * 1e4) AS BIGINT)) AS DOUBLE)
                 / 1e4, 4) AS sum_value,
               MAX(ts) AS last_seen
        FROM events
        WHERE user_id < 50
        GROUP BY user_id
        ORDER BY user_id""")),

    // -------------------------------------------------------------- q185:
    // LIST STATE — the transformWithState surface q110 (value/map state)
    // and q162 (timers) don't touch: per-user "last 3 events", kept as a
    // BOUNDED ListState and emitted on the q162 inactivity timer. The
    // bound is the scale contract: each batch merges new rows with the
    // retained list and re-puts only the top-3 by (ts, event_id), so
    // state per key is O(N) — a recent-activity cache that never grows
    // with stream length, which is precisely what ListState is for
    // (ValueState of a Seq would rewrite the whole blob per append;
    // unbounded event logs are the anti-pattern). Selection by
    // (ts, event_id) is a total order, so the retained set is a multiset
    // property of the inputs — arrival-order-independent, hence exactly
    // oracle-pairable against the batch window rank.
    QueryDef(
      "q185_liststate_lastn",
      (s, d) => withStreamConf(s) {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val base = stableDir("q185", d)
        val ckpt = base.resolve("ckpt").toString
        val out = base.resolve("out").toString
        sweepStaleSink(ckpt, out)
        val srcDir = sentinelSrc(s, d, base, nSentinels = 2)
        val kProv = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(kProv)
        s.conf.set(kProv,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          implicit val longEnc = org.apache.spark.sql.Encoders.scalaLong
          implicit val rowEnc =
            org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)]
          val stream = eventsStream(s, d, srcDir.toString, "*.parquet",
              "maxFilesPerTrigger" -> "1")
            .withWatermark("ts", "1 hour")
            .filter(col("user_id") < 50 || col("user_id") === 1000000L)
            .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
              col("event_id"),
              expr("CAST(round(value * 1e4) AS BIGINT)").as("value_u"))
            .as[(Long, Long, Long, Long)](rowEnc)
          val emitted = stream.groupByKey(_._1)(longEnc)
            .transformWithState(new LastNEventsProcessor(3),
              TimeMode.EventTime(), OutputMode.Append())(rowEnc)
          val q = emitted.toDF("user_id", "ts_us", "event_id", "value_u")
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: DataFrame, id: Long) =>
              batch.write.mode("overwrite").parquet(s"$out/batch_id=$id"): Unit
            }
            .start()
          q.awaitTermination()
        } finally prev.fold(s.conf.unset(kProv))(v => s.conf.set(kProv, v))
        s.read.parquet(out)
          .filter(col("user_id") < 50)
          .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
            col("event_id"),
            round(col("value_u").cast("double") / 1e4, 4).as("value"))
          .orderBy(col("user_id"), col("ts").desc, col("event_id").desc)
      },
      Some("""
        WITH r AS (
          SELECT user_id, ts, event_id,
                 round(CAST(round(value * 1e4) AS BIGINT) / 1e4, 4) AS value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE user_id < 50)
        SELECT user_id, ts, event_id, value
        FROM r WHERE rn <= 3
        ORDER BY user_id, ts DESC, event_id DESC""")),

    // -------------------------------------------------------------- q190:
    // STREAMING WRITE INTO THE MANAGED CATALOG: `writeStream.toTable`
    // against a GraftCatalog table — the DSv2 streaming-sink seam
    // (TableCapability.STREAMING_WRITE → StreamingWrite with per-epoch
    // commits). Exactly-once is the sink's responsibility at this seam:
    // Spark re-runs any epoch whose commit raced a crash, and the
    // table's epoch-id high-water mark drops the replay whole
    // (GraftCatalogSpec re-drives the same checkpoint and proves the
    // content is unchanged). The read-back aggregate is the oracle
    // surface; batch/stream equivalence is the contract, as everywhere
    // in this family.
    QueryDef(
      "q190_stream_to_table",
      (s, d) => withStreamConf(s) {
        streamToTable(s, d, fresh = true)
        s.sql("""SELECT user_id, event_type, COUNT(*) AS n,
                        CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE)
                          AS sum_value
                 FROM graft_cat.default.events_live
                 GROUP BY user_id, event_type
                 ORDER BY user_id, event_type""")
      },
      Some("""
        SELECT user_id, event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE)
                 AS sum_value
        FROM events
        WHERE user_id < 100
        GROUP BY user_id, event_type
        ORDER BY user_id, event_type""")),

    // -------------------------------------------------------------- q197:
    // STREAMING READ FROM THE MANAGED CATALOG — the half q190 left
    // open, closing the CDC loop entirely inside the engine's own
    // table format: a producer streams events INTO
    // graft_cat.default.events_live (q190's path), then a downstream
    // consumer `readStream.table(...)`s it back out — the catalog's
    // MICRO_BATCH_READ seam, offsets indexing the table's append log
    // (every committed file, in commit order, like FileStreamSource's
    // ledger) — and lands it in a second managed table via the same
    // exactly-once epoch sink. The read-back aggregate shares q190's
    // oracle: whatever the loop's transport, content must equal the
    // batch answer. At 100 TB this is the standard lakehouse CDC
    // relay: each micro-batch reads only the newly committed files
    // (offset delta), never rescans the table.
    QueryDef(
      "q197_stream_read_catalog",
      (s, d) => withStreamConf(s) {
        streamToTable(s, d, fresh = true)
        val ckpt = stableDir("q197", d).resolve("ckpt")
        graft.util.Fs.rmTree(ckpt)
        s.sql("DROP TABLE IF EXISTS graft_cat.default.events_mirror")
        s.sql("""CREATE TABLE graft_cat.default.events_mirror
                 (user_id BIGINT, event_type STRING, value DOUBLE)""")
        val q = s.readStream.table("graft_cat.default.events_live")
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .toTable("graft_cat.default.events_mirror")
        q.awaitTermination()
        s.sql("""SELECT user_id, event_type, COUNT(*) AS n,
                        CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE)
                          AS sum_value
                 FROM graft_cat.default.events_mirror
                 GROUP BY user_id, event_type
                 ORDER BY user_id, event_type""")
      },
      Some("""
        SELECT user_id, event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE)
                 AS sum_value
        FROM events
        WHERE user_id < 100
        GROUP BY user_id, event_type
        ORDER BY user_id, event_type""")),

    // -------------------------------------------------------------- q257:
    // STREAMING INGESTION INTO A HIDDEN-PARTITIONED TABLE — q190's
    // exactly-once epoch sink composed with q250's days(ts) transform
    // partitioning: every micro-batch's writers split their output one
    // file per DAY (the streaming writer factory carries the same
    // partition spec as the batch path), so a month-long ingest lands
    // day-pinned files whose ts min/max prune exactly, with no query
    // rewrite and no hive directories. The oracle reads the
    // `$partitions` census — the per-day row counts folded from commit
    // refs alone — against DuckDB's full per-day recompute: layout
    // metadata IS the asserted surface, not just query results. At
    // 100 TB this is the standard streaming-lakehouse shape: the sink
    // keeps the time layout healthy while it ingests.
    QueryDef(
      "q257_stream_hidden_partition",
      (s, d) => withStreamConf(s) {
        GraftSession.registerCatalog(s)
        val base = stableDir("q257", d)
        val ckpt = base.resolve("ckpt")
        s.sql("DROP TABLE IF EXISTS graft_cat.default.events_hp_live")
        graft.util.Fs.rmTree(ckpt)
        s.sql("""CREATE TABLE graft_cat.default.events_hp_live
                 (event_id BIGINT, ts TIMESTAMP, value DOUBLE)
                 PARTITIONED BY (days(ts))""")
        val q = eventsStream(s, d, d, "events.parquet")
          .select(col("event_id"), col("ts"), col("value"))
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .toTable("graft_cat.default.events_hp_live")
        q.awaitTermination()
        s.sql("""SELECT partition, n_rows
                 FROM graft_cat.default.`events_hp_live$partitions`
                 ORDER BY partition""")
      },
      Some("""
        SELECT 'days(ts)=' || CAST(CAST(ts AS DATE) AS VARCHAR)
                 AS partition,
               COUNT(*) AS n_rows
        FROM events GROUP BY 1 ORDER BY partition"""))
  )

  /** q190 body. `fresh = true` drops table + checkpoint (the declared
    * deterministic run); `fresh = false` re-drives the SAME checkpoint
    * against the existing table — the restart path the spec uses to
    * prove epoch-replay idempotence. */
  private[graft] def streamToTable(s: SparkSession, d: String,
      fresh: Boolean): Unit = {
    GraftSession.registerCatalog(s)
    val base = stableDir("q190", d)
    val ckpt = base.resolve("ckpt")
    if (fresh) {
      s.sql("DROP TABLE IF EXISTS graft_cat.default.events_live")
      graft.util.Fs.rmTree(ckpt)
      s.sql("""CREATE TABLE graft_cat.default.events_live
               (user_id BIGINT, event_type STRING, value DOUBLE)""")
    }
    val q = eventsStream(s, d, d, "events.parquet")
      .filter(col("user_id") < 100)
      .select(col("user_id"), col("event_type"), col("value"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .toTable("graft_cat.default.events_live")
    q.awaitTermination()
  }

  /** One CDC micro-batch apply: merge `batch` into state version `id`,
    * (over)write version `id+1`. Exposed for the StreamingSpec
    * crash-retry test — re-running the SAME (id, batch) must rewrite
    * identical state. */
  private[graft] def applyCdcBatch(stateRoot: java.nio.file.Path,
      batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    val ss = batch.sparkSession
    val cur = ss.read.parquet(stateRoot.resolve(s"ver$id").toString)
    graft.relational.Temporal.cdcMerge(cur, batch)
      .write.mode("overwrite")
      .parquet(stateRoot.resolve(s"ver${id + 1}").toString)
  }

  /** Spec-only view of the per-(query, corpus) working dir. */
  private[graft] def stableDirForSpec(name: String, d: String): java.nio.file.Path =
    stableDir(name, d)

  /** Highest-numbered state version dir under `stateRoot`. */
  private[graft] def latestStateVersion(
      stateRoot: java.nio.file.Path): java.nio.file.Path = {
    val best = graft.util.Fs.children(stateRoot)
      .map(_.getFileName.toString)
      .filter(_.startsWith("ver"))
      .map(_.drop(3).toInt)
      .maxOption
      .getOrElse(throw new IllegalStateException(
        s"no ver* state directories under $stateRoot"))
    stateRoot.resolve(s"ver$best")
  }
}

/** transformWithState processor for q162: accumulate per-user stats
  * silently; REGISTER an event-time timer at last-seen + 1 h on every
  * input batch (replacing any prior deadline — the rolling inactivity
  * window), and emit + clear ONLY from handleExpiredTimer. All state
  * fields are order-free (count, integer-unit sum, max), so emission
  * content is arrival-order-independent. Top-level class: shipped to
  * executors, must not capture the query builder. */
private[streaming] class TimeoutStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  @transient private var n: ValueState[Long] = _
  @transient private var sumU: ValueState[Long] = _
  @transient private var maxTs: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    sumU = getHandle.getValueState[Long]("sumU", Encoders.scalaLong, TTLConfig.NONE)
    maxTs = getHandle.getValueState[Long]("maxTs", Encoders.scalaLong, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    var cnt = if (n.exists()) n.get() else 0L
    var su = if (sumU.exists()) sumU.get() else 0L
    var mx = if (maxTs.exists()) maxTs.get() else Long.MinValue
    rows.foreach { case (_, vu, tsUs) =>
      cnt += 1; su += vu; mx = math.max(mx, tsUs)
    }
    n.update(cnt); sumU.update(su); maxTs.update(mx)
    // roll the inactivity deadline: clear any prior timer, arm at
    // last-seen + 1 h (timer units are MILLISECONDS of event time)
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
    getHandle.registerTimer(mx / 1000L + 3600L * 1000)
    Iterator.empty
  }
  override def handleExpiredTimer(key: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
    val out = (key, n.get(), sumU.get(), maxTs.get())
    n.clear(); sumU.clear(); maxTs.clear()
    Iterator.single(out)
  }
}

/** transformWithState processor for q110: running per-user stats in three
  * named state variables — `n` (ValueState count), `mx` (ValueState max),
  * `types` (MapState event_type -> count, whose key cardinality is the
  * distinct-type counter). Top-level class: it is shipped to executors
  * and must not capture the enclosing query builder. */
private[streaming] class UserStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String, Double), (Long, Long, Int, Double)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  @transient private var n: ValueState[Long] = _
  @transient private var mx: ValueState[Double] = _
  @transient private var types: MapState[String, Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    mx = getHandle.getValueState[Double]("mx", Encoders.scalaDouble, TTLConfig.NONE)
    types = getHandle.getMapState[String, Long]("types",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, String, Double)],
      timers: TimerValues): Iterator[(Long, Long, Int, Double)] = {
    var cnt = if (n.exists()) n.get() else 0L
    var m = if (mx.exists()) mx.get() else Double.NegativeInfinity
    rows.foreach { case (_, t, v) =>
      cnt += 1
      m = math.max(m, v)
      val prevN = if (types.containsKey(t)) types.getValue(t) else 0L
      types.updateValue(t, prevN + 1L)
    }
    n.update(cnt); mx.update(m)
    var nTypes = 0
    val it = types.keys()
    while (it.hasNext) { it.next(); nTypes += 1 }
    Iterator.single((key, cnt, nTypes, m))
  }
}

/** transformWithState processor for q185: a BOUNDED ListState holding
  * each user's latest `n` events as (ts_us, event_id, value_u). Every
  * input batch merges new rows into the retained list and re-puts only
  * the top-n by (ts, event_id) — state per key is O(n) no matter the
  * stream length. Emission rides the q162 rolling inactivity timer
  * (last-seen + 1 h event time): the retained list is emitted and
  * cleared when the user goes quiet. Top-level class: shipped to
  * executors, must not capture the query builder. */
private[streaming] class LastNEventsProcessor(n: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, Long), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
  @transient private var recent: ListState[(Long, Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    recent = getHandle.getListState[(Long, Long, Long)]("recent",
      Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    val prior = if (recent.exists()) recent.get().toSeq else Seq.empty
    val merged = (prior ++ rows.map { case (_, ts, eid, vu) => (ts, eid, vu) })
      .sortBy { case (ts, eid, _) => (-ts, -eid) }
      .take(n)
    recent.put(merged.toArray)
    // roll the inactivity deadline to newest-retained + 1 h (timer units
    // are MILLISECONDS of event time)
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
    getHandle.registerTimer(merged.head._1 / 1000L + 3600L * 1000)
    Iterator.empty
  }
  override def handleExpiredTimer(key: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
    val out = (if (recent.exists()) recent.get().toSeq else Seq.empty)
      .map { case (ts, eid, vu) => (key, ts, eid, vu) }
    recent.clear()
    out.iterator
  }
}
