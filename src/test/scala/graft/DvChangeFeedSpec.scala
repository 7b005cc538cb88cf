package graft

import org.apache.spark.sql.Row

/** Change feed on DELETION-VECTOR tables
  * ([[graft.catalog.GraftChangeFeedTable]] over the DV change source,
  * VERDICT r14 item 1): the
  * id-less CDC surface — `<table>$changes` rows are
  * `(__op, __ver, <data cols>)`, where positional deletes are resolved
  * to FULL delete-rows against the base file at read time and inserts
  * ride the ledger's data files unchanged.
  *
  * Pinned contracts: DELETE surfaces the deleted rows' full pre-image;
  * UPDATE surfaces as a delete+insert pair sharing one `__ver`;
  * version-bounded batch slices follow the MOR (a, b] discipline; the
  * feed survives compaction (vectors resolve against retained
  * replaced bases); a streaming MERGE-apply converges a mirror to the
  * table; version bounds on a streaming read reject. */
class DvChangeFeedSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(q)

  private def setup(name: String): String = {
    spark.conf.set("spark.sql.catalog.gdcf",
      classOf[graft.catalog.GraftCatalog].getName)
    val t = s"gdcf.default.$name"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES " +
      "('graft.mode'='dv')")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('a', id) FROM range(0, 4)")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('b', id) FROM range(4, 8)")
    t
  }

  private def table(name: String): graft.catalog.GraftDvTable =
    spark.sessionState.catalogManager.catalog("gdcf")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("default"), name))
      .asInstanceOf[graft.catalog.GraftDvTable]

  private def feed(t: String): String = {
    val i = t.lastIndexOf('.')
    s"${t.take(i)}.`${t.drop(i + 1)}$$changes`"
  }

  test("DELETE surfaces full delete-rows; UPDATE surfaces as a " +
      "delete+insert pair sharing one __ver; plain appends surface " +
      "as op-0 inserts (feed totality)") {
    val t = setup("dvcf_basic")
    val vDel = table("dvcf_basic").stateNow.current.get.version + 1
    sql(s"DELETE FROM $t WHERE k IN (1, 6)")
    sql(s"UPDATE $t SET v = concat(v, '!') WHERE k = 2")
    val rows = sql(s"SELECT `__op`, `__ver`, k, v FROM ${feed(t)} " +
      "ORDER BY `__ver`, `__op`, k").collect().toSeq
    assert(rows == Seq(
      // setup's two INSERT waves are changes too (round-16 totality
      // fix: an append-fed mirror silently diverged before)
      Row(0, vDel - 2, 0L, "a0"), Row(0, vDel - 2, 1L, "a1"),
      Row(0, vDel - 2, 2L, "a2"), Row(0, vDel - 2, 3L, "a3"),
      Row(0, vDel - 1, 4L, "b4"), Row(0, vDel - 1, 5L, "b5"),
      Row(0, vDel - 1, 6L, "b6"), Row(0, vDel - 1, 7L, "b7"),
      Row(2, vDel, 1L, "a1"),      // delete pre-images, full rows
      Row(2, vDel, 6L, "b6"),
      Row(0, vDel + 1, 2L, "a2!"), // the update's re-insert...
      Row(2, vDel + 1, 2L, "a2")), // ...and its positional delete
      s"feed rows: $rows")
  }

  test("a fresh-content replace FENCES the feed: reads across it " +
      "refuse, post-replace reads serve, compaction does not fence") {
    val t = setup("dvcf_fence")
    sql(s"DELETE FROM $t WHERE k = 1")                    // v2
    val vOver = table("dvcf_fence").stateNow.nextVersion  // v3
    sql(s"INSERT OVERWRITE $t VALUES (100, 'fresh')")     // replace
    // spanning the replacement refuses loudly (reseed, don't diverge)
    val e = intercept[Exception] {
      spark.read.option("from_version", "0").table(feed(t)).collect()
    }
    assert(e.getMessage.contains("reseed") ||
      e.getMessage.contains("retained"), e.getMessage)
    // post-replacement reads serve cleanly: ops after the fence only
    sql(s"DELETE FROM $t WHERE k = 100")
    val rows = spark.read.option("from_version", vOver.toString)
      .table(feed(t)).selectExpr("`__op`", "k").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(rows == Seq((2, 100L)), s"got $rows")
  }

  test("a partition-SCOPED dynamic overwrite stays feed-visible: " +
      "replaced partition rows stream as deletes, fresh rows as " +
      "inserts, untouched partitions stay silent") {
    spark.conf.set("spark.sql.catalog.gdcf",
      classOf[graft.catalog.GraftCatalog].getName)
    val t = "gdcf.default.dvcf_dynow"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (k BIGINT, v STRING) PARTITIONED BY (k) " +
      "TBLPROPERTIES ('graft.mode'='dv')")
    sql(s"INSERT INTO $t VALUES (1, 'a1'), (2, 'a2')")      // v0
    val vBefore = table("dvcf_dynow").stateNow.nextVersion
    val prevMode = spark.conf.getOption(
      "spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try sql(s"INSERT OVERWRITE $t VALUES (2, 'b2')")        // v1
    finally prevMode match {
      case Some(m) => spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", m)
      case None => spark.conf.unset(
        "spark.sql.sources.partitionOverwriteMode")
    }
    val rows = spark.read.option("from_version", (vBefore - 1).toString)
      .table(feed(t)).selectExpr("`__op`", "k", "v").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
      .sorted
    // partition k=2: old row deleted, new row inserted; k=1 silent
    assert(rows == Seq((0, 2L, "b2"), (2, 2L, "a2")), s"got $rows")
    // and the feed is still consumable end to end (no fence)
    assert(spark.read.table(feed(t)).count() >= 4) // 2 seeds + the pair
  }

  test("version-bounded batch slices follow the (a, b] discipline on " +
      "the DV feed") {
    val t = setup("dvcf_bounds")
    val v0 = table("dvcf_bounds").stateNow.current.get.version
    sql(s"DELETE FROM $t WHERE k = 1")                   // v0+1
    sql(s"UPDATE $t SET v = 'x' WHERE k = 5")            // v0+2
    def bounded(from: Int, to: Option[Int]) = {
      val r = spark.read.option("from_version", from.toString)
      to.fold(r)(x => r.option("to_version", x.toString)).table(feed(t))
    }
    // (v0, v0+1] = the delete only
    assert(bounded(v0, Some(v0 + 1)).collect().map(r =>
      (r.getInt(0), r.getLong(2))).toSeq == Seq((2, 1L)))
    // (v0+1, _] = the update pair
    assert(bounded(v0 + 1, None).orderBy("`__op`").collect().map(r =>
      (r.getInt(0), r.getLong(2), r.getString(3))).toSeq ==
      Seq((0, 5L, "x"), (2, 5L, "b5")))
    // future to_version rejects loudly
    val e = intercept[Exception] {
      bounded(v0, Some(v0 + 99)).collect()
    }
    assert(e.getMessage.contains("beyond the current version"),
      e.getMessage)
  }

  test("the feed stays readable after compaction: vectors resolve " +
      "against the retained replaced bases") {
    val t = setup("dvcf_compact")
    sql(s"DELETE FROM $t WHERE k IN (0, 7)")
    sql("CALL gdcf.system.compact('default.dvcf_compact')")
    // current base files are new, but the ledger's vectors resolve
    // against the pre-compaction files still held by retained snapshots
    val dels = sql(s"SELECT k, v FROM ${feed(t)} WHERE `__op` = 2 " +
      "ORDER BY k").collect().toSeq
    assert(dels == Seq(Row(0L, "a0"), Row(7L, "b7")), s"got $dels")
  }

  test("a streaming MERGE-apply converges a mirror to the table " +
      "(collapse by max __ver, insert wins within a version)") {
    val t = setup("dvcf_stream")
    sql("DROP TABLE IF EXISTS gdcf.default.dvcf_mirror")
    val seedVer = table("dvcf_stream").stateNow.current.get.version
    sql(s"""CREATE TABLE gdcf.default.dvcf_mirror AS
            SELECT * FROM $t VERSION AS OF $seedVer""")
    sql(s"DELETE FROM $t WHERE k % 3 = 1")            // kills 1, 4, 7
    sql(s"UPDATE $t SET v = concat(v, '?') WHERE k = 2")
    sql(s"DELETE FROM $t WHERE k = 2")                // delete the update
    val ckpt = java.nio.file.Files
      .createTempDirectory("dvcf-ckpt-").toString
    val q = spark.readStream
      .table(feed(t))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.createOrReplaceTempView("dvcf_batch")
        // collapse: per key keep the op of the highest version; within
        // one version an insert beats its paired positional delete
        batch.sparkSession.sql("""
          MERGE INTO gdcf.default.dvcf_mirror t
          USING (
            SELECT k, v, `__op` FROM (
              SELECT *, row_number() OVER (PARTITION BY k
                ORDER BY `__ver` DESC,
                         CASE WHEN `__op` = 0 THEN 0 ELSE 1 END) AS rn
              FROM dvcf_batch) WHERE rn = 1) c
          ON t.k = c.k
          WHEN MATCHED AND c.`__op` = 2 THEN DELETE
          WHEN MATCHED THEN UPDATE SET v = c.v
          WHEN NOT MATCHED AND c.`__op` = 0 THEN
            INSERT (k, v) VALUES (c.k, c.v)"""): Unit
      }
      .start()
    q.awaitTermination()
    val mirror = sql("SELECT k, v FROM gdcf.default.dvcf_mirror " +
      "ORDER BY k").collect().toSeq
    val direct = sql(s"SELECT k, v FROM $t ORDER BY k").collect().toSeq
    assert(mirror == direct, s"mirror $mirror vs table $direct")
    assert(mirror.map(_.getLong(0)) == Seq(0L, 3L, 5L, 6L))
  }

  test("version bounds on a streaming read reject; a CoW table's " +
      "$changes is the insert-only incremental append feed") {
    val t = setup("dvcf_refuse")
    sql(s"DELETE FROM $t WHERE k = 0")
    val e1 = intercept[Exception] {
      spark.readStream.option("from_version", "0").table(feed(t))
        .writeStream.format("memory").queryName("dvcf_refuse_q").start()
        .awaitTermination()
    }
    assert(exceptionChain(e1).exists(_.getMessage != null) &&
      exceptionChain(e1).exists(m => m.getMessage != null &&
        m.getMessage.contains("streaming reads track progress")),
      e1.toString)
    sql("DROP TABLE IF EXISTS gdcf.default.dvcf_cow")
    sql("CREATE TABLE gdcf.default.dvcf_cow (k BIGINT)")
    sql("INSERT INTO gdcf.default.dvcf_cow VALUES (1), (2)")
    // CoW $changes serves the append feed now (CowChangeFeedSpec owns
    // its contracts) — a smoke read here pins the dispatch
    assert(sql("SELECT `__op`, k FROM gdcf.default.`dvcf_cow$changes`")
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq ==
      Seq((0, 1L), (0, 2L)))
  }

  private def exceptionChain(e: Throwable): Seq[Throwable] = {
    val b = Seq.newBuilder[Throwable]
    var cur: Throwable = e
    while (cur != null) { b += cur; cur = cur.getCause }
    b.result()
  }
}
