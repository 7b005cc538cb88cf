package graft

/** Exact partition-filter pushdown (VERDICT r12 item 5): when every
  * pushed predicate references only partition columns and every file
  * is decidable, the filter is applied exactly by file selection, no
  * residual Filter remains, and Spark's aggregate pushdown serves
  * `COUNT/MIN/MAX ... WHERE p = v` straight from the manifest — zero
  * files opened. */
class ExactPartitionPushdownSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(q)

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.gexa",
      classOf[graft.catalog.GraftCatalog].getName)
    sql("DROP TABLE IF EXISTS gexa.default.t")
    sql("""CREATE TABLE gexa.default.t (p BIGINT, v BIGINT)
           PARTITIONED BY (p)""")
    sql("""INSERT INTO gexa.default.t VALUES
           (10, 1), (10, 2), (10, 3), (20, 4), (20, 5), (30, 6)""")
  }

  private def opens(body: => Unit): Long = {
    val before = graft.catalog.GraftStorage.fileOpens.get()
    body
    graft.catalog.GraftStorage.fileOpens.get() - before
  }

  test("COUNT/MIN/MAX WHERE p = v serves from the manifest: zero opens") {
    setup()
    val n = opens {
      val r = sql("""SELECT COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi
                     FROM gexa.default.t WHERE p = 10""").head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 1L, 3L)))
    }
    assert(n == 0, s"partition-exact aggregate opened $n files")
    // COUNT over an IN set of partitions is metadata too
    val n2 = opens {
      assert(sql("""SELECT COUNT(*) FROM gexa.default.t
                    WHERE p IN (10, 30)""").head().getLong(0) == 4L)
    }
    assert(n2 == 0, s"IN-partition aggregate opened $n2 files")
  }

  test("non-aggregate SELECT under exact pushdown returns exactly the " +
      "partition's rows (the filter IS the file selection)") {
    setup()
    val got = sql("SELECT v FROM gexa.default.t WHERE p = 20 ORDER BY v")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(4L, 5L))
    // plan shape: the predicate is reported fully pushed (no residual
    // Filter node survives above the scan)
    val plan = sql(
      "EXPLAIN SELECT v FROM gexa.default.t WHERE p = 20")
      .head().getString(0)
    assert(!plan.contains("Filter ("),
      s"expected no residual Filter under exact pushdown:\n$plan")
  }

  test("mixed predicate (partition AND data column) does NOT engage: " +
      "residual filtering still exact") {
    setup()
    val got = sql(
      "SELECT v FROM gexa.default.t WHERE p = 10 AND v >= 2 ORDER BY v")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 3L))
  }

  test("undecidable layout (null partition value) refuses the exact " +
      "path: values stay correct") {
    setup()
    sql("INSERT INTO gexa.default.t VALUES (NULL, 99)")
    val got = sql("SELECT v FROM gexa.default.t WHERE p = 10 ORDER BY v")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L))
    assert(sql("SELECT COUNT(*) FROM gexa.default.t WHERE p = 10")
      .head().getLong(0) == 3L)
  }

  test("streaming read with a partition filter stays row-exact") {
    setup()
    val ckpt = java.nio.file.Files
      .createTempDirectory("exact-stream-").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    spark.readStream.table("gexa.default.t")
      .where("p = 10")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = b.select("v").collect().map(_.getLong(0))
        seen.synchronized { seen ++= vs: Unit }
      }
      .start().awaitTermination()
    assert(seen.sorted.toSeq == Seq(1L, 2L, 3L),
      s"stream leaked non-matching partitions: ${seen.sorted}")
  }
}
