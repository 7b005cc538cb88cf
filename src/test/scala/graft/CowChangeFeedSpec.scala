package graft

import org.apache.spark.sql.Row

/** Incremental change feed on plain copy-on-write tables
  * ([[graft.catalog.GraftChangeFeedTable]] over the CoW change source):
  * `<t>$changes` serves
  * an append-only range as `(__op = 0, __ver, <data>)` rows (Iceberg's
  * incremental append scan) and, on a table with a declared
  * `graft.row_id`, a DML-bearing range as a per-commit FILE-DIFF
  * changelog (removed files -> `__op = 2` rows, added -> `__op = 0`,
  * Iceberg changelog-scan shape) — both computed from retained-
  * snapshot set diffs.
  *
  * Pinned contracts: exact (a, b] slicing with per-commit __ver
  * attribution; timestamp bounds resolve through the same commit-time
  * axis; removals on an ID-LESS table refuse loudly naming the
  * graft.row_id cure (delete-rows are unaddressable without a key);
  * the keyed changelog converges a keyed mirror under the standard
  * collapse; unbounded reads need a complete retained history;
  * non-retained endpoints refuse. */
class CowChangeFeedSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(q)

  private def setup(name: String, props: String = ""): String = {
    spark.conf.set("spark.sql.catalog.gcow",
      classOf[graft.catalog.GraftCatalog].getName)
    val t = s"gcow.default.$name"
    sql(s"DROP TABLE IF EXISTS $t")
    val tail = if (props.isEmpty) "" else s" TBLPROPERTIES ($props)"
    sql(s"CREATE TABLE $t (k BIGINT, v STRING)$tail")
    t
  }

  private def feed(t: String): String = {
    val i = t.lastIndexOf('.')
    s"${t.take(i)}.`${t.drop(i + 1)}$$changes`"
  }

  private def bounded(t: String, from: Option[Int], to: Option[Int]) = {
    var r = spark.read
    from.foreach(f => r = r.option("from_version", f.toString))
    to.foreach(x => r = r.option("to_version", x.toString))
    r.table(feed(t))
  }

  test("(a, b] slices the appended files exactly, attributed to their " +
      "commit versions; unbounded = the whole retained history") {
    val t = setup("cow_slice")
    sql(s"INSERT INTO $t VALUES (1, 'a')")            // v0
    sql(s"INSERT INTO $t VALUES (2, 'b'), (3, 'b')")  // v1
    sql(s"INSERT INTO $t VALUES (4, 'c')")            // v2
    assert(bounded(t, Some(0), Some(1)).collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq ==
      Seq((0, 1, 2L), (0, 1, 3L)))
    assert(bounded(t, Some(1), None).collect().map(_.getLong(2)).toSeq ==
      Seq(4L))
    assert(bounded(t, None, None).count() == 4L)
    // empty range is empty, not an error
    assert(bounded(t, Some(2), Some(2)).count() == 0L)
    // timestamp spelling rides the same snapshot commit-time axis
    val tsMid = sql(s"SELECT 1").sparkSession
      .sessionState.catalogManager.catalog("gcow")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("default"), "cow_slice"))
      .asInstanceOf[graft.catalog.GraftTable]
      .stateNow.snapshots.find(_.version == 1).get.tsMillis
    assert(spark.read.option("from_timestamp", tsMid.toString)
      .table(feed(t)).collect().map(_.getLong(2)).toSeq == Seq(4L))
  }

  test("removals inside the range refuse loudly: overwrite, row-level " +
      "DML, and compaction are not representable; disjoint later " +
      "ranges still serve") {
    val t = setup("cow_removed")
    sql(s"INSERT INTO $t VALUES (1, 'a')")            // v0
    sql(s"INSERT INTO $t VALUES (2, 'b')")            // v1
    sql(s"UPDATE $t SET v = 'x' WHERE k = 1")         // v2: rewrites a file
    sql(s"INSERT INTO $t VALUES (3, 'c')")            // v3
    val e = intercept[Exception] {
      bounded(t, Some(0), Some(3)).collect()
    }
    assert(e.getMessage.contains("removed inside"), e.getMessage)
    // the post-rewrite range is append-only again
    assert(bounded(t, Some(2), Some(3)).collect().map(_.getLong(2))
      .toSeq == Seq(3L))
  }

  test("a file added AND removed inside the range refuses; endpoints " +
      "outside retention refuse; incomplete-history unbounded refuses") {
    val t = setup("cow_addrm")
    sql(s"INSERT INTO $t VALUES (1, 'a')")            // v0
    sql(s"INSERT INTO $t VALUES (2, 'b')")            // v1 (added...)
    sql(s"DELETE FROM $t WHERE k = 2")                // v2 (...removed)
    val e = intercept[Exception] {
      bounded(t, Some(0), Some(2)).collect()
    }
    assert(e.getMessage.contains("cannot") ||
      e.getMessage.contains("removed"), e.getMessage)
    // retention-trimmed endpoints
    val t2 = setup("cow_trim", "'graft.retain'='2'")
    sql(s"INSERT INTO $t2 VALUES (1, 'a')")           // v0 (trimmed)
    sql(s"INSERT INTO $t2 VALUES (2, 'b')")           // v1
    sql(s"INSERT INTO $t2 VALUES (3, 'c')")           // v2
    val e2 = intercept[Exception] {
      bounded(t2, Some(0), Some(2)).collect()
    }
    assert(e2.getMessage.contains("not a retained snapshot"),
      e2.getMessage)
    val e3 = intercept[Exception] { bounded(t2, None, None).collect() }
    assert(e3.getMessage.contains("COMPLETE retained history"),
      e3.getMessage)
    // the retained tail still serves
    assert(bounded(t2, Some(1), Some(2)).collect().map(_.getLong(2))
      .toSeq == Seq(3L))
  }

  test("a tag-induced GAP in the retained window refuses: an " +
      "added-then-removed file inside the gap must not vanish " +
      "silently") {
    val t = setup("cow_gap", "'graft.retain'='2'")
    sql(s"INSERT INTO $t VALUES (1, 'a')")            // v0
    // tagging commits a NEW pinned snapshot of the current content
    sql(s"CALL gcow.system.tag('default.cow_gap', 'seed')") // v1 (tagged)
    sql(s"INSERT INTO $t VALUES (2, 'b')")            // v2
    sql(s"INSERT INTO $t VALUES (3, 'c')")            // v3
    sql(s"INSERT INTO $t VALUES (4, 'd')")            // v4 (v2 trimmed)
    // window now holds v1 (tagged) + v3 + v4 — (1, 4] spans the gap
    val e = intercept[Exception] {
      bounded(t, Some(1), Some(4)).collect()
    }
    assert(e.getMessage.contains("retention-trimmed"), e.getMessage)
    // the contiguous retained tail still serves
    assert(bounded(t, Some(3), Some(4)).collect().map(_.getLong(2))
      .toSeq == Seq(4L))
  }

  test("a consumer reconstructs the table from a snapshot plus " +
      "bounded slices") {
    val t = setup("cow_mirror")
    sql(s"INSERT INTO $t SELECT id, 'w1' FROM range(0, 50)")   // v0
    sql(s"INSERT INTO $t SELECT id, 'w2' FROM range(50, 80)")  // v1
    sql(s"INSERT INTO $t SELECT id, 'w3' FROM range(80, 100)") // v2
    val mirror = sql(s"SELECT k, v FROM $t VERSION AS OF 0").collect()
      .toSeq ++
      bounded(t, Some(0), Some(2)).collect()
        .map(r => Row(r.getLong(2), r.getString(3))).toSeq
    val direct = sql(s"SELECT k, v FROM $t").collect().toSeq
    assert(mirror.toSet == direct.toSet && mirror.size == direct.size)
  }

  test("a keyed CoW table serves DML as a file-diff changelog: " +
      "delete-rows + inserts per commit; a keyed mirror converges") {
    val t = setup("cow_dml", "'graft.row_id'='k'")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('a', id) FROM range(0, 6)")              // v0
    sql(s"DELETE FROM $t WHERE k IN (1, 4)")           // v1 (rewrite)
    sql(s"UPDATE $t SET v = 'x' WHERE k = 2")          // v2 (rewrite)
    sql(s"INSERT INTO $t VALUES (100, 'new')")         // v3 (append)
    val rows = bounded(t, Some(0), None)
      .selectExpr("`__op`", "`__ver`", "k", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .toSeq
    // v1: the whole seed file streams as deletes, the rewritten file
    // (minus k=1,4) as inserts — raw changelog, canceling pairs for
    // untouched keys; v2 same shape; v3 a plain append
    assert(rows.filter(_._2 == 1).count(_._1 == 2) == 6)
    assert(rows.filter(_._2 == 1).count(_._1 == 0) == 4)
    assert(rows.filter(r => r._2 == 2 && r._1 == 0 && r._3 == 2L)
      .map(_._4) == Seq("x"))
    assert(rows.filter(_._2 == 3) == Seq((0, 3, 100L, "new")))
    // the MOR-feed consumer discipline converges a keyed mirror
    import spark.implicits._
    val collapsed = rows.toDF("op", "ver", "k", "v")
      .selectExpr("*",
        "row_number() OVER (PARTITION BY k ORDER BY ver DESC, " +
          "CASE WHEN op = 0 THEN 0 ELSE 1 END) AS rn")
      .where("rn = 1 AND op = 0").select("k", "v")
    val seed = sql(s"SELECT k, v FROM $t VERSION AS OF 0")
    // mirror = seed keys not touched by the feed + collapsed upserts
    val mirror = seed.join(rows.toDF("op", "ver", "k", "v")
        .select("k").distinct(), Seq("k"), "left_anti")
      .union(collapsed)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val direct = sql(s"SELECT k, v FROM $t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(mirror == direct, s"mirror $mirror != direct $direct")
    // a later append-only slice still takes the pure-append path
    assert(bounded(t, Some(2), Some(3)).collect()
      .map(_.getInt(0)).toSeq == Seq(0))
  }

  test("DML on an id-less CoW table keeps the loud refusal, naming " +
      "the graft.row_id cure") {
    val t = setup("cow_dml_noid")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")   // v0
    sql(s"DELETE FROM $t WHERE k = 1")                 // v1
    val e = intercept[Exception] {
      bounded(t, Some(0), None).collect()
    }
    assert(e.getMessage.contains("graft.row_id"), e.getMessage)
    assert(e.getMessage.contains("removed"), e.getMessage)
  }

  // ---- checkpointed streaming over the CoW changelog (r16 item 5) ----

  private def streamOnce(t: String, ckpt: String): Seq[Row] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = spark.readStream.table(feed(t))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized { buf ++= batch.collect() }: Unit
      }
      .start()
    q.awaitTermination()
    buf.toSeq
  }

  test("streamed CoW changelog equals the batch read, row for row " +
      "(appends AND file-diff DML commits)") {
    val t = setup("cow_stream_eq", "'graft.row_id'='k'")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('a', id) FROM range(0, 6)")              // v0
    sql(s"DELETE FROM $t WHERE k IN (1, 4)")           // v1 (rewrite)
    sql(s"UPDATE $t SET v = 'x' WHERE k = 2")          // v2 (rewrite)
    sql(s"INSERT INTO $t VALUES (100, 'new')")         // v3 (append)
    val ckpt = java.nio.file.Files
      .createTempDirectory("cowstream-eq-").toString
    val streamed = streamOnce(t, ckpt)
    val batch = bounded(t, None, None).collect().toSeq
    def key(r: Row) = (r.getInt(0), r.getInt(1), r.getLong(2),
      r.getString(3))
    assert(streamed.map(key).sorted == batch.map(key).sorted,
      s"stream/batch diverged:\n${streamed.map(key).sorted}\nvs\n" +
        s"${batch.map(key).sorted}")
  }

  test("checkpoint resume delivers each commit exactly once: the " +
      "second trigger ships only the new versions") {
    val t = setup("cow_stream_ck", "'graft.row_id'='k'")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('a', id) FROM range(0, 5)")              // v0
    sql(s"DELETE FROM $t WHERE k = 3")                 // v1
    val ckpt = java.nio.file.Files
      .createTempDirectory("cowstream-ck-").toString
    val first = streamOnce(t, ckpt)
    assert(first.map(_.getInt(1)).toSet == Set(0, 1),
      s"first trigger must cover v0+v1: ${first.map(_.getInt(1))}")
    // commits between triggers...
    sql(s"UPDATE $t SET v = 'y' WHERE k = 2")          // v2
    sql(s"INSERT INTO $t VALUES (50, 'z')")            // v3
    val second = streamOnce(t, ckpt)
    // ...arrive exactly once, and nothing from (-, v1] re-delivers
    assert(second.nonEmpty &&
      second.map(_.getInt(1)).toSet == Set(2, 3),
      s"resume must ship exactly v2+v3: ${second.map(_.getInt(1))}")
    // and an idle third trigger ships nothing
    assert(streamOnce(t, ckpt).isEmpty, "idle trigger must be empty")
  }

  test("a checkpoint resumed past retention fails loudly (reseed), " +
      "never silently skips") {
    val t = setup("cow_stream_trim",
      "'graft.row_id'='k', 'graft.retain'='2'")
    sql(s"INSERT INTO $t VALUES (1, 'a')")             // v0
    val ckpt = java.nio.file.Files
      .createTempDirectory("cowstream-trim-").toString
    assert(streamOnce(t, ckpt).nonEmpty)               // offset now v0
    // retention (2) trims v0 out of the window after two more commits
    sql(s"INSERT INTO $t VALUES (2, 'b')")             // v1
    sql(s"INSERT INTO $t VALUES (3, 'c')")             // v2
    val e = intercept[Exception] { streamOnce(t, ckpt) }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(e).exists(m => m.contains("reseed")),
      s"trimmed resume must demand a reseed: ${msgs(e)}")
  }
}
