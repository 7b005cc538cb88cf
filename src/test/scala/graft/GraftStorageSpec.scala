package graft

import java.nio.file.{Files, Paths}

/** Parquet-backed catalog storage contracts (the round-10 rewrite):
  * file-granularity group pruning, snapshot retention, session
  * persistence (cold load), ALTER schema evolution, per-query streaming
  * epoch dedup, MOR row-id immutability, and orphan-file GC. The DML
  * SEMANTICS are pinned in GraftCatalogSpec; this spec pins the
  * STORAGE behavior underneath them. */
class GraftStorageSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(q)

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.gstore",
      classOf[graft.catalog.GraftCatalog].getName)
  }

  private def tbl(name: String): graft.catalog.GraftTable =
    spark.sessionState.catalogManager.catalog("gstore")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("default"), name))
      .asInstanceOf[graft.catalog.GraftTable]

  test("row-level DML rewrites only the files whose stats admit matches; " +
      "all other base files stay byte-identical") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.fp")
    sql("CREATE TABLE gstore.default.fp (k BIGINT, v STRING)")
    // three commits; each VALUES row lands in its own task file, so the
    // table holds 9 single-row files with exact per-file key stats
    sql("INSERT INTO gstore.default.fp VALUES (1,'a'),(5,'b'),(9,'c')")
    sql("INSERT INTO gstore.default.fp VALUES (11,'d'),(15,'e'),(19,'f')")
    sql("INSERT INTO gstore.default.fp VALUES (21,'g'),(25,'h'),(29,'i')")
    val before = tbl("fp").currentFilePaths
    assert(before.size == 9, s"expected 9 files, got ${before.size}")
    val bytes = before.map(p => p -> Files.readAllBytes(Paths.get(p))).toMap

    sql("UPDATE gstore.default.fp SET v = 'U' WHERE k = 15")

    val after = tbl("fp").currentFilePaths
    // the single file holding k=15 was replaced; the other 8 are the
    // SAME paths with the SAME bytes — group pruning kept them out of
    // the rewrite entirely
    val kept = before.filter(after.contains)
    val replaced = before.filterNot(after.contains)
    assert(replaced.size == 1,
      s"expected exactly 1 file rewritten, got ${replaced.size} " +
        s"(before=$before after=$after)")
    kept.foreach { p =>
      assert(Files.readAllBytes(Paths.get(p)).sameElements(bytes(p)),
        s"unmatched base file $p was rewritten")
    }
    // and the data is correct: carry-over intact, one row updated
    assert(sql("SELECT k, v FROM gstore.default.fp ORDER BY k").collect()
      .map(_.toString).toSeq ==
      Seq("[1,a]", "[5,b]", "[9,c]", "[11,d]", "[15,U]", "[19,f]",
        "[21,g]", "[25,h]", "[29,i]"))
    // a DELETE whose range matches nothing rewrites nothing
    val pre = tbl("fp").currentFilePaths
    sql("DELETE FROM gstore.default.fp WHERE k > 1000")
    assert(tbl("fp").currentFilePaths == pre,
      "no-match DELETE still rewrote files")
  }

  test("snapshot retention: expired VERSION AS OF fails loudly, " +
      "retained versions stay green") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.ret")
    sql("""CREATE TABLE gstore.default.ret (k BIGINT)
           TBLPROPERTIES ('graft.retain'='3')""")
    (0 until 5).foreach(i =>
      sql(s"INSERT INTO gstore.default.ret VALUES ($i)"))
    // 5 commits -> versions 0..4; window keeps 2..4
    assert(tbl("ret").retainedVersions == Seq(2, 3, 4))
    assert(sql("SELECT count(*) FROM gstore.default.ret VERSION AS OF 4")
      .head().getLong(0) == 5)
    assert(sql("SELECT count(*) FROM gstore.default.ret VERSION AS OF 2")
      .head().getLong(0) == 3)
    val expired = intercept[Exception] {
      sql("SELECT * FROM gstore.default.ret VERSION AS OF 0").collect()
    }
    assert(chain(expired).exists(_.getMessage != null) &&
      chain(expired).exists(m => Option(m.getMessage).exists(
        _.contains("expired"))),
      s"expired version error not loud: ${expired.getMessage}")
    val future = intercept[Exception] {
      sql("SELECT * FROM gstore.default.ret VERSION AS OF 9").collect()
    }
    assert(chain(future).exists(m => Option(m.getMessage).exists(
      _.contains("out of range"))))
  }

  test("catalog persistence: tables cold-load from the on-disk log " +
      "(CREATE TABLE survives the JVM)") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.persist")
    sql("CREATE TABLE gstore.default.persist (k BIGINT, v STRING)")
    sql("INSERT INTO gstore.default.persist VALUES (1,'one'),(2,'two')")
    sql("DROP TABLE IF EXISTS gstore.default.persist_mor")
    sql("""CREATE TABLE gstore.default.persist_mor (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.persist_mor VALUES (1,'a'),(2,'b')")
    sql("UPDATE gstore.default.persist_mor SET v = 'B' WHERE k = 2")

    // simulate a fresh JVM's first touch: every in-memory handle gone,
    // the JSON logs on disk are all that remains
    graft.catalog.GraftCatalog.dropHandlesForTest()

    assert(sql("SELECT k, v FROM gstore.default.persist ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,one]", "[2,two]"))
    // the MOR table reloads as MOR, WITH its un-compacted delta log
    assert(sql("SELECT k, v FROM gstore.default.persist_mor ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,a]", "[2,B]"))
    val mor = tbl("persist_mor").asInstanceOf[graft.catalog.GraftDeltaTable]
    assert(mor.deltaLogSize == 1, "cold load dropped the delta log")
    // and it still plans delta writes after reload
    sql("DELETE FROM gstore.default.persist_mor WHERE k = 1")
    assert(mor.deltaLogSize == 2)
    sql("DROP TABLE gstore.default.persist_mor")
  }

  test("ALTER TABLE ADD COLUMN: null backfill on old files, old schema " +
      "preserved under time travel, MOR refuses") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.alt")
    sql("CREATE TABLE gstore.default.alt (k BIGINT, v STRING)")
    sql("INSERT INTO gstore.default.alt VALUES (1,'a'),(2,'b')")
    sql("ALTER TABLE gstore.default.alt ADD COLUMN note STRING")
    sql("INSERT INTO gstore.default.alt VALUES (3,'c','fresh')")
    assert(sql("SELECT k, v, note FROM gstore.default.alt ORDER BY k")
      .collect().map(_.toString).toSeq ==
      Seq("[1,a,null]", "[2,b,null]", "[3,c,fresh]"))
    // pruning to ONLY the backfilled column still works (zero file cols)
    assert(sql("SELECT note FROM gstore.default.alt WHERE k = 1").collect()
      .map(_.isNullAt(0)).toSeq == Seq(true))
    // version 0 (pre-ALTER commit) keeps the 2-column schema
    val v0 = sql("SELECT * FROM gstore.default.alt VERSION AS OF 0")
    assert(v0.schema.fieldNames.toSeq == Seq("k", "v"),
      s"time travel leaked the new schema: ${v0.schema.catalogString}")
    assert(v0.collect().map(_.toString).toSeq == Seq("[1,a]", "[2,b]"))
    // filters on the added column evaluate correctly over old files
    assert(sql(
      "SELECT k FROM gstore.default.alt WHERE note IS NULL ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // MOR: ADD COLUMN works across a LIVE delta log — pre-ALTER delta
    // entries backfill null through the fold, post-ALTER ops carry the
    // column, and the delta-marker names stay reserved
    sql("DROP TABLE IF EXISTS gstore.default.alt_mor")
    sql("""CREATE TABLE gstore.default.alt_mor (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.alt_mor VALUES (1,'a'),(2,'b')")
    sql("UPDATE gstore.default.alt_mor SET v = 'B' WHERE k = 2") // pre-ALTER delta
    sql("ALTER TABLE gstore.default.alt_mor ADD COLUMN note STRING")
    sql("INSERT INTO gstore.default.alt_mor VALUES (3,'c','fresh')")
    sql("UPDATE gstore.default.alt_mor SET note = 'tagged' WHERE k = 1")
    assert(sql(
      "SELECT k, v, note FROM gstore.default.alt_mor ORDER BY k")
      .collect().map(_.toString).toSeq ==
      Seq("[1,a,tagged]", "[2,B,null]", "[3,c,fresh]"),
      "MOR fold across ALTER produced wrong rows")
    // pre-ALTER versions keep the 2-column schema
    val mv1 = sql("SELECT * FROM gstore.default.alt_mor VERSION AS OF 1")
    assert(mv1.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(mv1.collect().map(_.toString).sorted.toSeq ==
      Seq("[1,a]", "[2,B]"))
    // compaction folds the mixed-schema log into current-schema base
    sql("CALL gstore.system.compact('default.alt_mor')")
    assert(sql(
      "SELECT k, v, note FROM gstore.default.alt_mor ORDER BY k")
      .collect().map(_.toString).toSeq ==
      Seq("[1,a,tagged]", "[2,B,null]", "[3,c,fresh]"))
    val er = intercept[Exception] {
      sql("ALTER TABLE gstore.default.alt_mor ADD COLUMN `__id` BIGINT")
    }
    assert(chain(er).exists(m => Option(m.getMessage).exists(
      _.contains("reserved"))))
    sql("DROP TABLE gstore.default.alt_mor")
  }

  test("streaming epoch dedup is keyed by (queryId, epochId): a second " +
      "query's low epoch ids are not swallowed") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.eps")
    sql("CREATE TABLE gstore.default.eps (k BIGINT)")
    val t = tbl("eps")
    def versions = t.retainedVersions.size
    val v0 = versions
    t.commitStreamEpoch("queryA", 0, Nil, truncate = false)
    t.commitStreamEpoch("queryA", 1, Nil, truncate = false)
    assert(versions == v0 + 2)
    // crash-replay of an epoch: dropped whole
    t.commitStreamEpoch("queryA", 1, Nil, truncate = false)
    assert(versions == v0 + 2, "replayed epoch was re-committed")
    // a DIFFERENT query restarting at epoch 0 must NOT be deduped
    // against queryA's high-water mark (silent data loss otherwise)
    t.commitStreamEpoch("queryB", 0, Nil, truncate = false)
    assert(versions == v0 + 3,
      "second query's epoch 0 was swallowed by the first query's mark")
  }

  test("Complete-mode streaming toTable truncates per epoch instead of " +
      "accumulating duplicates") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.evagg")
    val ckpt = Files.createTempDirectory("gstore-complete-").toString
    val sch = spark.read.parquet(s"$sfDir/events.parquet").schema
    def run(): Unit = {
      // events.parquet is a single file: stream the parent dir with a
      // glob (the same shape the engine's event streams use)
      val q = spark.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
        .groupBy("event_type").count()
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("gstore.default.evagg")
      q.awaitTermination()
    }
    run()
    val expected = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy("event_type").count()
      .collect().map(_.toString).sorted.toSeq
    def got() = sql("SELECT event_type, count FROM gstore.default.evagg")
      .collect().map(_.toString).sorted.toSeq
    assert(got() == expected, "complete-mode content != batch aggregate")
    // restart over the same checkpoint: no new input, content unchanged
    run()
    assert(got() == expected, "restart duplicated complete-mode output")
  }

  test("MOR UPDATE that mutates the row-id column is rejected loudly") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.idmut")
    sql("""CREATE TABLE gstore.default.idmut (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.idmut VALUES (1,'a'),(2,'b')")
    val e = intercept[Exception] {
      sql("UPDATE gstore.default.idmut SET k = k + 10 WHERE k = 1")
    }
    assert(chain(e).exists(m => Option(m.getMessage).exists(
      _.contains("row-id"))),
      s"row-id mutation not rejected loudly: ${e.getMessage}")
    // table content unchanged (the write aborted)
    assert(sql("SELECT k, v FROM gstore.default.idmut ORDER BY k").collect()
      .map(_.toString).toSeq == Seq("[1,a]", "[2,b]"))
    sql("DROP TABLE gstore.default.idmut")
  }

  test("expireOrphanFiles deletes only rewrite-superseded files outside " +
      "the retention window") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.gc")
    sql("""CREATE TABLE gstore.default.gc (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.retain'='1')""")
    sql("INSERT INTO gstore.default.gc VALUES (1,'a')") // file A (appendLog)
    sql("UPDATE gstore.default.gc SET v = 'b'") // file B replaces A
    val b = tbl("gc").currentFilePaths.head
    sql("UPDATE gstore.default.gc SET v = 'c'") // file C replaces B
    // A stays (append log = streaming history); B is referenced by no
    // retained snapshot and no append entry -> the one orphan
    assert(Files.exists(Paths.get(b)))
    // DEFAULT grace window spares it — B is seconds old, and a file
    // this fresh could be a concurrent writer's in-flight output
    // (ADVICE r10); only an explicit 0-grace sweep reclaims it
    assert(tbl("gc").expireOrphanFiles() == 0,
      "default grace swept a freshly written file")
    assert(Files.exists(Paths.get(b)))
    val n = tbl("gc").expireOrphanFiles(0L)
    assert(n == 1, s"expected 1 orphan deleted, got $n")
    assert(!Files.exists(Paths.get(b)), "orphan survived GC")
    assert(sql("SELECT v FROM gstore.default.gc").head().getString(0) == "c")
    sql("DROP TABLE gstore.default.gc")
    // MOR: a delta file stays live while the CHANGE-FEED ledger
    // references it (compaction alone must not erase feed history);
    // once it ages out of the ledger window AND its snapshots expire,
    // GC reclaims it
    sql("DROP TABLE IF EXISTS gstore.default.gcm")
    sql("""CREATE TABLE gstore.default.gcm (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k',
                          'graft.retain'='1','graft.append_retain'='1')""")
    sql("INSERT INTO gstore.default.gcm VALUES (1,'a')")
    sql("UPDATE gstore.default.gcm SET v = 'b' WHERE k = 1") // delta d1
    val d1 = tbl("gcm").stateNow.current.get.deltaFiles.head.path
    sql("CALL gstore.system.compact('default.gcm')") // live log cleared
    sql("INSERT INTO gstore.default.gcm VALUES (2,'c')") // expire compact snap
    // d1 still referenced by the 1-entry change ledger: GC must spare
    // it (the superseded SEED data file is collected, nothing else)
    tbl("gcm").expireOrphanFiles(0L): Unit
    assert(Files.exists(Paths.get(d1)),
      "GC deleted a delta file the change ledger still references")
    sql("UPDATE gstore.default.gcm SET v = 'B2' WHERE k = 1") // d2 evicts d1
    sql("CALL gstore.system.compact('default.gcm')")
    sql("INSERT INTO gstore.default.gcm VALUES (3,'d')") // expire compact snap
    val nm = tbl("gcm").expireOrphanFiles(0L)
    assert(nm >= 1, s"expected the ledger-evicted delta file GC'd, got $nm")
    assert(sql("SELECT k, v FROM gstore.default.gcm ORDER BY k").collect()
      .map(_.toString).toSeq == Seq("[1,B2]", "[2,c]", "[3,d]"))
    sql("DROP TABLE gstore.default.gcm")
  }

  test("identity PARTITIONED BY: single-valued files, exact pruning, " +
      "loud reject of non-identity transforms and MOR") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.pt")
    sql("""CREATE TABLE gstore.default.pt (k BIGINT, pr STRING)
           PARTITIONED BY (pr)""")
    // one multi-partition insert mixing three partition values: writers
    // must split so every file is single-valued in pr
    spark.range(30).selectExpr("id AS k",
        "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' " +
          "ELSE 'c' END AS pr")
      .repartition(4)
      .createOrReplaceTempView("pt_src")
    sql("INSERT INTO gstore.default.pt SELECT * FROM pt_src")
    val t = tbl("pt")
    val snap = t.stateNow.current.get
    assert(snap.files.nonEmpty)
    snap.files.foreach { f =>
      val st = f.stats("pr")
      assert(st.min == st.max,
        s"partitioned file ${f.path} holds multiple pr values: $st")
    }
    // the write demanded CLUSTERED distribution, so ONE file per
    // partition value — not one per (task x value); a 4-task write of
    // 3 values would otherwise land up to 12 files
    assert(snap.files.size == 3,
      s"expected 3 clustered files, got ${snap.files.size} " +
        "(tasks x values small-file explosion?)")
    // exact pruning: the pr='b' read must skip every a/c file
    val q = sql("SELECT k FROM gstore.default.pt WHERE pr = 'b' ORDER BY k")
    assert(q.collect().map(_.getLong(0)).toSeq ==
      (0L until 30L).filter(_ % 3 == 1))
    val nB = snap.files.count(f => f.stats("pr").min.contains("b"))
    val desc = q.queryExecution.executedPlan.toString
    val skipLine = s"(${snap.files.size - nB} skipped)"
    assert(desc.contains(skipLine),
      s"expected '$skipLine' in scan description:\n$desc")
    // the table reports its partitioning
    assert(t.partitioning().map(_.toString).toSeq == Seq("identity(pr)"))
    // non-identity transforms are loud errors
    sql("DROP TABLE IF EXISTS gstore.default.ptbad")
    val e1 = intercept[Exception] {
      sql("""CREATE TABLE gstore.default.ptbad (k BIGINT)
             PARTITIONED BY (bucket(4, k))""")
    }
    assert(chain(e1).exists(m => Option(m.getMessage).exists(
      _.contains("identity"))))
    sql("DROP TABLE gstore.default.pt")
  }

  test("partitioned merge-on-read: partition-split base, delta DML, " +
      "pruned reads; partition swaps gated on an empty delta log") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.pmor")
    sql("""CREATE TABLE gstore.default.pmor (k BIGINT, pr STRING, v STRING)
           PARTITIONED BY (pr)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    spark.range(30).selectExpr("id AS k",
        "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' " +
          "ELSE 'c' END AS pr", "concat('v', id) AS v")
      .repartition(4).createOrReplaceTempView("pmor_src")
    sql("INSERT INTO gstore.default.pmor SELECT * FROM pmor_src")
    val t = tbl("pmor").asInstanceOf[graft.catalog.GraftDeltaTable]
    // clustered, single-valued base files: one per partition value
    val snap = t.stateNow.current.get
    assert(snap.files.size == 3 &&
      snap.files.forall(f => f.stats("pr").min == f.stats("pr").max),
      s"partitioned MOR base not partition-split: ${snap.files.map(_.stats("pr"))}")
    // row-level DML stays delta-sized (base untouched)
    sql("UPDATE gstore.default.pmor SET v = 'U' WHERE k = 4") // pr='b'
    assert(t.deltaLogSize == 1 &&
      t.stateNow.current.get.files.map(_.path) == snap.files.map(_.path),
      "MOR UPDATE rewrote partitioned base files")
    // pruned read folds correctly: only the b-partition file + the
    // replacements partition are scanned
    val q = sql("SELECT k, v FROM gstore.default.pmor WHERE pr = 'b' " +
      "ORDER BY k")
    assert(q.collect().map(_.toString).toSeq ==
      (0L until 30L).filter(_ % 3 == 1).map(k =>
        if (k == 4) s"[$k,U]" else s"[$k,v$k]"))
    assert(q.queryExecution.executedPlan.toString.contains("(2 skipped)"),
      "partition pruning lost on MOR read")
    // partition swaps with a LIVE log are refused loudly...
    val e = intercept[Exception] {
      sql("""INSERT OVERWRITE gstore.default.pmor PARTITION (pr = 'b')
             VALUES (100L, 'x')""")
    }
    assert(chain(e).exists(m => Option(m.getMessage).exists(m2 =>
      m2.contains("delta") || m2.contains("dynamic") ||
        m2.contains("TRUNCATE") || m2.contains("overwrite"))),
      s"live-log partition overwrite not refused: ${e.getMessage}")
    // ...compaction clears the log, after which the partition
    // lifecycle works: metadata DELETE + static overwrite
    sql("CALL gstore.system.compact('default.pmor')")
    assert(t.deltaLogSize == 0)
    sql("DELETE FROM gstore.default.pmor WHERE pr = 'a'")
    sql("""INSERT OVERWRITE gstore.default.pmor PARTITION (pr = 'b')
           VALUES (100L, 'x')""")
    assert(sql("SELECT pr, count(*) AS n FROM gstore.default.pmor " +
      "GROUP BY pr ORDER BY pr").collect().map(_.toString).toSeq ==
      Seq("[b,1]", "[c,10]"))
    // and MOR DML still works on the partition-swapped table
    sql("DELETE FROM gstore.default.pmor WHERE k = 100")
    assert(sql("SELECT count(*) FROM gstore.default.pmor").head()
      .getLong(0) == 10)
    sql("DROP TABLE gstore.default.pmor")
  }

  test("append-log retention: offsets stay global, fresh streams start " +
      "at the window edge, expired checkpoints fail loudly") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.alr")
    sql("""CREATE TABLE gstore.default.alr (k BIGINT)
           TBLPROPERTIES ('graft.append_retain'='2')""")
    (0 until 4).foreach(i =>
      sql(s"INSERT INTO gstore.default.alr VALUES ($i)"))
    val t = tbl("alr")
    val st = t.stateNow
    assert(st.appendLog.size == 2 && st.appendBase == 2,
      s"retention did not trim: ${st.appendLog.size} entries, " +
        s"base ${st.appendBase}")
    // table content is unaffected (retention bounds the STREAM ledger,
    // not the data)
    assert(sql("SELECT count(*) FROM gstore.default.alr").head()
      .getLong(0) == 4)
    // a fresh stream reads only the retained window
    val ckpt = java.nio.file.Files.createTempDirectory("alr-").toString
    val q = spark.readStream.table("gstore.default.alr")
      .writeStream.format("memory").queryName("alr_sink")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(sql("SELECT k FROM alr_sink ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L),
      "fresh stream did not start at the retained window edge")
    sql("DROP TABLE gstore.default.alr")
  }

  test("scan-reported statistics drive broadcast join planning for " +
      "small catalog tables") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.dim")
    sql("CREATE TABLE gstore.default.dim (k BIGINT, label STRING)")
    sql("""INSERT INTO gstore.default.dim VALUES
           (0,'zero'), (1,'one'), (2,'two')""")
    val fact = spark.range(10000).selectExpr("id AS fk", "id % 3 AS k")
    val joined = fact.join(spark.table("gstore.default.dim"), "k")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // without SupportsReportStatistics the DSv2 relation defaults to
    // "unknown = huge" and this joins as SMJ; the recorded file bytes
    // make the 3-row dim broadcastable
    assert(plan.contains("BroadcastHashJoin"),
      s"small catalog table was not broadcast:\n$plan")
    sql("DROP TABLE gstore.default.dim")
  }

  test("CALL procedures: system.compact folds the MOR log, " +
      "system.expire_snapshots GCs orphans, unknown names fail loudly") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.pc")
    sql("""CREATE TABLE gstore.default.pc (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.pc VALUES (1,'a'),(2,'b')")
    sql("UPDATE gstore.default.pc SET v = 'B' WHERE k = 2")
    val mor = tbl("pc").asInstanceOf[graft.catalog.GraftDeltaTable]
    assert(mor.deltaLogSize == 1)
    val res = sql("CALL gstore.system.compact('default.pc')").collect()
    assert(res.length == 1, "compact returned no summary row")
    val byName = res(0).schema.fieldNames.zip(res(0).toSeq).toMap
    assert(byName("delta_ops_folded") == 1L, s"summary: $byName")
    assert(byName("rows") == 2L)
    assert(mor.deltaLogSize == 0, "CALL compact left delta entries")
    assert(sql("SELECT k, v FROM gstore.default.pc ORDER BY k").collect()
      .map(_.toString).toSeq == Seq("[1,a]", "[2,B]"))
    // expire_snapshots on a retain-1 CoW table with a rewrite-orphan
    sql("DROP TABLE IF EXISTS gstore.default.pc2")
    sql("""CREATE TABLE gstore.default.pc2 (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.retain'='1')""")
    sql("INSERT INTO gstore.default.pc2 VALUES (1,'a')")
    sql("UPDATE gstore.default.pc2 SET v = 'b'")
    sql("UPDATE gstore.default.pc2 SET v = 'c'")
    val res2 = sql(
      "CALL gstore.system.expire_snapshots('default.pc2', 0)")
      .collect()
    assert(res2(0).getLong(0) == 1L,
      s"expected 1 orphan deleted, got ${res2(0)}")
    assert(sql("SELECT v FROM gstore.default.pc2").head().getString(0) == "c")
    val e = intercept[Exception] {
      sql("CALL gstore.system.nonexistent('x')").collect()
    }
    assert(chain(e).exists(m => Option(m.getMessage).exists(
      _.contains("unknown procedure"))))
    // history: one row per retained commit, version-ordered, with the
    // file/row census a reviewer audits before time travel
    val hist = sql("CALL gstore.system.history('default.pc2')").collect()
    assert(hist.map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSeq
      .nonEmpty)
    val last = hist.last
    assert(last.getLong(4) == 1L, // 1 row in pc2's final state
      s"history base_rows wrong: ${hist.mkString(", ")}")
    assert(last.getLong(1) > 0L, "history lost the commit timestamp")
    sql("DROP TABLE gstore.default.pc")
    sql("DROP TABLE gstore.default.pc2")
  }

  test("runtime group filtering: MERGE on a partitioned table rewrites " +
      "only the partitions the source hits") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.rgf")
    sql("""CREATE TABLE gstore.default.rgf (k BIGINT, pr STRING, v STRING)
           PARTITIONED BY (pr)""")
    spark.range(30).selectExpr("id AS k",
        "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' " +
          "ELSE 'c' END AS pr", "concat('v', id) AS v")
      .createOrReplaceTempView("rgf_src")
    sql("INSERT INTO gstore.default.rgf SELECT * FROM rgf_src")
    val beforeRefs = tbl("rgf").stateNow.current.get.files
    val before = beforeRefs.map(_.path)
    val bytes = before.map(p =>
      p -> java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p))).toMap
    // partition of each pre-merge file by its pinned stats value
    def prOf(path: String): String =
      beforeRefs.find(_.path == path).get.stats("pr").min.get
    // the MERGE source touches keys 1 and 4 — both pr = 'b'; the static
    // condition (t.k = s.k) cannot prune, only the runtime filter can
    spark.sql("SELECT * FROM VALUES (1L,'B1'), (4L,'B4') AS s(k, nv)")
      .createOrReplaceTempView("rgf_changes")
    sql("""MERGE INTO gstore.default.rgf t USING rgf_changes s
           ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET v = s.nv""")
    val after = tbl("rgf").currentFilePaths
    val replaced = before.filterNot(after.contains)
    assert(replaced.nonEmpty, "MERGE rewrote nothing")
    assert(replaced.forall(prOf(_) == "b"),
      s"runtime filter failed: non-b partitions rewritten: " +
        s"${replaced.map(prOf)}")
    before.filter(after.contains).foreach { p =>
      assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
        .sameElements(bytes(p)), s"carry-over file $p was rewritten")
    }
    // and the data is right: 1 and 4 updated, everything else intact
    assert(sql("SELECT v FROM gstore.default.rgf WHERE k IN (1, 4) " +
      "ORDER BY k").collect().map(_.getString(0)).toSeq == Seq("B1", "B4"))
    assert(sql("SELECT count(*) FROM gstore.default.rgf").head()
      .getLong(0) == 30)
    assert(sql("SELECT v FROM gstore.default.rgf WHERE k = 2").head()
      .getString(0) == "v2")
    sql("DROP TABLE gstore.default.rgf")
  }

  test("metadata-only DELETE: a partition-decidable predicate drops " +
      "files with zero data I/O; undecidable falls back to rewrite") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.md")
    sql("""CREATE TABLE gstore.default.md (k BIGINT, pr STRING)
           PARTITIONED BY (pr)""")
    spark.range(30).selectExpr("id AS k",
        "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' " +
          "ELSE 'c' END AS pr")
      .repartition(4).createOrReplaceTempView("md_src")
    sql("INSERT INTO gstore.default.md SELECT * FROM md_src")
    val beforeRefs = tbl("md").stateNow.current.get.files
    val before = beforeRefs.map(_.path)
    // partition-sliced DELETE: decidable per file (min == max == pr)
    sql("DELETE FROM gstore.default.md WHERE pr = 'b'")
    val after = tbl("md").currentFilePaths
    assert(after.toSet.subsetOf(before.toSet),
      s"metadata delete wrote new files: ${after.filterNot(before.contains)}")
    val dropped = before.filterNot(after.contains)
    assert(dropped.nonEmpty && dropped.forall(p =>
      beforeRefs.find(_.path == p).get.stats("pr").min.contains("b")),
      s"wrong files dropped: $dropped")
    // dropped files still exist on disk (snapshot history references
    // them); only the metadata changed
    dropped.foreach(p =>
      assert(Files.exists(Paths.get(p)), s"metadata delete erased $p"))
    assert(sql("SELECT k FROM gstore.default.md ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == (0L until 30L).filterNot(_ % 3 == 1))
    // a row-undecidable predicate must take the rewrite path: content
    // right AND rewrite output appears (new files)
    val pre = tbl("md").currentFilePaths
    sql("DELETE FROM gstore.default.md WHERE k < 3")
    assert(sql("SELECT k FROM gstore.default.md ORDER BY k").collect()
      .map(_.getLong(0)).toSeq ==
      (3L until 30L).filterNot(_ % 3 == 1))
    val post = tbl("md").currentFilePaths
    assert(post.exists(p => !pre.contains(p)),
      "expected the undecidable DELETE to run the rewrite")
    // unconditional DELETE truncates by metadata
    sql("DELETE FROM gstore.default.md")
    assert(sql("SELECT count(*) FROM gstore.default.md").head()
      .getLong(0) == 0)
    assert(tbl("md").currentFilePaths.isEmpty)
    sql("DROP TABLE gstore.default.md")
  }

  test("partition-scoped INSERT OVERWRITE: static PARTITION clause and " +
      "dynamic mode replace only their partitions") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.po")
    sql("""CREATE TABLE gstore.default.po (k BIGINT, pr STRING)
           PARTITIONED BY (pr)""")
    sql("""INSERT INTO gstore.default.po VALUES
           (1,'a'), (2,'b'), (3,'c'), (4,'b')""")
    def paths = tbl("po").currentFilePaths
    def content = sql("SELECT k, pr FROM gstore.default.po ORDER BY k")
      .collect().map(_.toString).toSeq
    // STATIC: only partition b is replaced
    val pre = paths
    sql("""INSERT OVERWRITE gstore.default.po PARTITION (pr = 'b')
           VALUES (20L), (40L)""")
    assert(content == Seq("[1,a]", "[3,c]", "[20,b]", "[40,b]"))
    val statKept = pre.filter(paths.contains)
    assert(statKept.size == 2, // the a and c files survived untouched
      s"static partition overwrite touched other partitions: kept " +
        s"${statKept.size} of ${pre.size}")
    // DYNAMIC: only the partitions present in the written data replace
    val conf = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "dynamic")
    try {
      val pre2 = paths
      sql("""INSERT OVERWRITE gstore.default.po VALUES (300L, 'c')""")
      assert(content == Seq("[1,a]", "[20,b]", "[40,b]", "[300,c]"),
        s"dynamic overwrite produced $content")
      assert(pre2.filter(paths.contains).nonEmpty,
        "dynamic overwrite replaced unrelated partitions")
    } finally prev.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
    sql("DROP TABLE gstore.default.po")
  }

  test("TIMESTAMP AS OF resolves the newest commit at-or-before; " +
      "pre-history timestamps fail loudly") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.tt")
    sql("CREATE TABLE gstore.default.tt (k BIGINT)")
    sql("INSERT INTO gstore.default.tt VALUES (1)")
    Thread.sleep(30) // commit timestamps are wall-clock millis
    val mid = java.time.Instant.now()
    Thread.sleep(30)
    sql("INSERT INTO gstore.default.tt VALUES (2)")
    def at(i: java.time.Instant) = sql(
      s"SELECT count(*) FROM gstore.default.tt TIMESTAMP AS OF " +
        s"'${java.sql.Timestamp.from(i)}'").head().getLong(0)
    assert(at(mid) == 1, "mid-point timestamp did not resolve to commit 0")
    assert(at(java.time.Instant.now()) == 2)
    val e = intercept[Exception] {
      at(mid.minus(java.time.Duration.ofDays(1)))
    }
    assert(chain(e).exists(m => Option(m.getMessage).exists(
      _.contains("predates"))), s"pre-history not loud: ${e.getMessage}")
    sql("DROP TABLE gstore.default.tt")
  }

  test("_file metadata column: rows attribute to their data files; MOR " +
      "replacement rows carry null") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.mf")
    sql("CREATE TABLE gstore.default.mf (k BIGINT)")
    sql("INSERT INTO gstore.default.mf VALUES (1), (2)")
    sql("INSERT INTO gstore.default.mf VALUES (3)")
    val byFile = sql(
      "SELECT _file, count(*) AS n FROM gstore.default.mf GROUP BY _file")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val paths = tbl("mf").currentFilePaths.toSet
    assert(byFile.keySet == paths,
      s"_file values ${byFile.keySet} != table files $paths")
    assert(byFile.values.sum == 3)
    // MOR: base rows attribute to base files, folded replacements don't
    sql("DROP TABLE IF EXISTS gstore.default.mfm")
    sql("""CREATE TABLE gstore.default.mfm (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.mfm VALUES (1,'a'), (2,'b')")
    sql("UPDATE gstore.default.mfm SET v = 'B' WHERE k = 2")
    val rows = sql("SELECT k, _file FROM gstore.default.mfm ORDER BY k")
      .collect()
    assert(rows(0).getString(1) != null, "base row lost its _file")
    assert(rows(1).isNullAt(1),
      "delta-log replacement row claimed a data file")
    sql("DROP TABLE gstore.default.mf")
    sql("DROP TABLE gstore.default.mfm")
  }

  test("MOR time travel: each version folds exactly its own delta log") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.mtt")
    sql("""CREATE TABLE gstore.default.mtt (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.mtt VALUES (1,'a'),(2,'b'),(3,'c')") // v0
    sql("UPDATE gstore.default.mtt SET v = 'B' WHERE k = 2") // v1 (delta)
    sql("DELETE FROM gstore.default.mtt WHERE k = 3") // v2 (delta)
    sql("CALL gstore.system.compact('default.mtt')") // v3 (replace)
    def at(v: Int) = sql(
      s"SELECT k, v FROM gstore.default.mtt VERSION AS OF $v ORDER BY k")
      .collect().map(_.toString).toSeq
    assert(at(0) == Seq("[1,a]", "[2,b]", "[3,c]"),
      "version 0 is not the pristine seed")
    assert(at(1) == Seq("[1,a]", "[2,B]", "[3,c]"),
      "version 1 must fold only the first delta entry")
    assert(at(2) == Seq("[1,a]", "[2,B]"),
      "version 2 must fold both delta entries")
    assert(at(3) == at(2), "compaction changed time-travel content")
    assert(sql("SELECT k, v FROM gstore.default.mtt ORDER BY k").collect()
      .map(_.toString).toSeq == at(2))
    sql("DROP TABLE gstore.default.mtt")
  }

  test("MOR fold fences tombstones: a base row appended after a DELETE " +
      "of the same id survives the fold") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.fence")
    sql("""CREATE TABLE gstore.default.fence (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.fence VALUES (1,'old'),(2,'keep')")
    sql("DELETE FROM gstore.default.fence WHERE k = 1") // delta tombstone
    assert(sql("SELECT k FROM gstore.default.fence ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // re-insert id 1 as a BASE append (plain INSERT INTO): the delta
    // tombstone predates this file and must not swallow it
    sql("INSERT INTO gstore.default.fence VALUES (1,'fresh')")
    assert(sql("SELECT k, v FROM gstore.default.fence ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,fresh]", "[2,keep]"),
      "tombstone leaked past its fence onto a later base append")
    // the tombstone still applies to its own era under time travel
    assert(sql(
      "SELECT k FROM gstore.default.fence VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // and compaction preserves the fenced result
    sql("CALL gstore.system.compact('default.fence')")
    assert(sql("SELECT k, v FROM gstore.default.fence ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,fresh]", "[2,keep]"))
    sql("DROP TABLE gstore.default.fence")
  }

  test("NaN-poisoned double stats never prune: real values in the same " +
      "file stay reachable by scans and DML") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.nan")
    sql("CREATE TABLE gstore.default.nan (k BIGINT, x DOUBLE)")
    // one task -> ONE file holding both the NaN and a real value: the
    // file's x-stats are poisoned (no min/max) but NOT all-null
    spark.sql("SELECT * FROM VALUES (1L, CAST('NaN' AS DOUBLE)), " +
        "(2L, 5.0D) AS t(k, x)")
      .coalesce(1).createOrReplaceTempView("nan_src")
    sql("INSERT INTO gstore.default.nan SELECT * FROM nan_src")
    val f = tbl("nan").stateNow.current.get.files
    assert(f.size == 1 && f.head.stats("x").min.isEmpty,
      s"fixture did not poison the stats: ${f.map(_.stats("x"))}")
    assert(sql("SELECT k FROM gstore.default.nan WHERE x = 5.0").collect()
      .map(_.getLong(0)).toSeq == Seq(2L),
      "poisoned stats pruned a file holding a matching row")
    sql("DELETE FROM gstore.default.nan WHERE x = 5.0")
    assert(sql("SELECT k FROM gstore.default.nan ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L),
      "poisoned stats group-pruned the DML target file")
    sql("DROP TABLE gstore.default.nan")
  }

  test("group-replace commit validates its files are still current " +
      "(optimistic concurrency: the losing writer fails loudly)") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.occ")
    sql("CREATE TABLE gstore.default.occ (k BIGINT, v STRING)")
    sql("INSERT INTO gstore.default.occ VALUES (1,'a')")
    val t = tbl("occ")
    val stale = t.currentFilePaths.toSet
    // a concurrent writer truncate-replaces the table between this
    // "rewrite"'s scan and its commit
    sql("INSERT OVERWRITE gstore.default.occ VALUES (2,'b')")
    val e = intercept[IllegalStateException] {
      t.commitReplaceFiles(stale, Nil)
    }
    assert(e.getMessage.contains("concurrent commit conflict"),
      s"stale replace did not fail loudly: ${e.getMessage}")
    // the table still holds the concurrent writer's content
    assert(sql("SELECT k, v FROM gstore.default.occ").collect()
      .map(_.toString).toSeq == Seq("[2,b]"))
    sql("DROP TABLE gstore.default.occ")
  }

  test("cross-process commit safety: log-version CAS admits exactly one " +
      "writer per version; stale handles refresh and rebase or conflict") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.cas")
    sql("CREATE TABLE gstore.default.cas (k BIGINT, v STRING)")
    sql("INSERT INTO gstore.default.cas VALUES (1,'a')")
    val t1 = tbl("cas")
    // the CAS primitive itself: two writers racing the same log version
    // — the second publish must lose, not clobber
    val st = t1.stateNow
    assert(!graft.catalog.GraftStorage.casWriteLog(t1.dir, st,
      st.nextVersion - 1),
      "casWriteLog overwrote an existing log version")
    // simulate a SECOND DRIVER: drop every cached handle so the next
    // SQL reference cold-loads a fresh instance (own lock, own state)
    graft.catalog.GraftCatalog.dropHandlesForTest()
    sql("INSERT INTO gstore.default.cas VALUES (2,'b')") // driver 2 commits
    // driver 1's handle is stale; an append REBASES onto the foreign
    // commit (refresh inside the commit loop) instead of losing it
    t1.commitAppend(Nil)
    assert(t1.stateNow.current.get.files.size == 2,
      "stale handle's append lost the foreign commit (last-writer-wins)")
    // and the other driver's handle observes driver 1's commit at scan
    // planning (refreshFromDisk) — both histories visible to SQL
    assert(sql("SELECT k FROM gstore.default.cas ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // a stale GROUP-REPLACE (row-level rewrite) must NOT rebase — its
    // carry-over rows were computed against dead files; loud conflict
    val stale = t1.currentFilePaths.toSet
    graft.catalog.GraftCatalog.dropHandlesForTest()
    sql("INSERT OVERWRITE gstore.default.cas VALUES (9,'z')") // driver 2
    val e = intercept[IllegalStateException] {
      t1.commitReplaceFiles(stale, Nil)
    }
    assert(e.getMessage.contains("concurrent commit conflict"),
      s"stale cross-driver replace not loud: ${e.getMessage}")
    assert(sql("SELECT k, v FROM gstore.default.cas").collect()
      .map(_.toString).toSeq == Seq("[9,z]"))
    sql("DROP TABLE gstore.default.cas")
  }

  test("reserved column names are rejected at CREATE TABLE: _file " +
      "everywhere, __op/__id on merge-on-read") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.resv")
    val e1 = intercept[Exception] {
      sql("CREATE TABLE gstore.default.resv (k BIGINT, `_file` STRING)")
    }
    assert(chain(e1).exists(m => Option(m.getMessage).exists(
      _.contains("reserved"))), s"_file not rejected: ${e1.getMessage}")
    val e2 = intercept[Exception] {
      sql("""CREATE TABLE gstore.default.resv (k BIGINT, `__op` INT)
             TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    }
    assert(chain(e2).exists(m => Option(m.getMessage).exists(
      _.contains("reserved"))), s"__op not rejected: ${e2.getMessage}")
    val e3 = intercept[Exception] {
      sql("""CREATE TABLE gstore.default.resv (k BIGINT, `__id` BIGINT)
             TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    }
    assert(chain(e3).exists(m => Option(m.getMessage).exists(
      _.contains("reserved"))))
    // a COW table may use __op (only MOR prepends the delta marker)
    sql("CREATE TABLE gstore.default.resv (k BIGINT, `__op` INT)")
    sql("INSERT INTO gstore.default.resv VALUES (1, 7)")
    assert(sql("SELECT `__op` FROM gstore.default.resv").head().getInt(0) == 7)
    sql("DROP TABLE gstore.default.resv")
  }

  test("DECIMAL columns: exact round-trip on both physical mappings, " +
      "stats pruning exact on decimal predicates, DML cycle") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.dec")
    // price: INT64-backed (p <= 18); big: BINARY-backed (p > 18),
    // including a negative value to pin the sign handling of the
    // unscaled-bytes mapping
    sql("""CREATE TABLE gstore.default.dec
           (k BIGINT, price DECIMAL(12,4), big DECIMAL(30,10))""")
    sql("""INSERT INTO gstore.default.dec VALUES
           (1, 10.5000, 12345678901234567890.1234567890),
           (2, 20.2500, -98765432109876543210.0000000001)""")
    sql("INSERT INTO gstore.default.dec VALUES (3, 99.9999, 0.0000000001)")
    assert(sql("SELECT k, price, big FROM gstore.default.dec ORDER BY k")
      .collect().map(_.toString).toSeq == Seq(
        "[1,10.5000,12345678901234567890.1234567890]",
        "[2,20.2500,-98765432109876543210.0000000001]",
        "[3,99.9999,1E-10]"), // BigDecimal.toString scientific notation
      "decimal round-trip not exact")
    // single-row files pin min == max; the price = 99.9999 read must
    // skip both first-insert files on stats alone
    val q = sql(
      "SELECT k FROM gstore.default.dec WHERE price = 99.9999 ORDER BY k")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("(2 skipped)"),
      s"decimal stats did not prune: expected '(2 skipped)' in:\n$desc")
    // range predicate on the BINARY-backed column (no pushdown, but
    // the residual filter must evaluate exactly)
    assert(sql("SELECT k FROM gstore.default.dec WHERE big < 0").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // DML over decimal predicates: group pruning + rewrite correctness
    val before = tbl("dec").currentFilePaths
    sql("""UPDATE gstore.default.dec SET price = price + 0.0001
           WHERE price = 20.2500""")
    val after = tbl("dec").currentFilePaths
    assert(before.filterNot(after.contains).size == 1,
      "decimal-keyed UPDATE rewrote more than the matching file")
    assert(sql("SELECT price FROM gstore.default.dec WHERE k = 2").head()
      .getDecimal(0).toPlainString == "20.2501")
    sql("DELETE FROM gstore.default.dec WHERE price < 15.0")
    assert(sql("SELECT k FROM gstore.default.dec ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))
    sql("DROP TABLE gstore.default.dec")
  }

  test("row-group-granular splits: a multi-row-group file scans as " +
      "multiple input partitions with identical content") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.rg")
    sql("CREATE TABLE gstore.default.rg (k BIGINT, v STRING)")
    val t = tbl("rg")
    // write ONE file with many small row groups straight through the
    // storage writer (what a compactor's large output looks like) and
    // commit it as a table append
    val schema = t.schema()
    val path = t.dataDir + "/big-rowgroups.parquet"
    val w = new graft.catalog.GraftStorage.FileWriter(path, schema,
      rowGroupBytes = 16 * 1024)
    (0 until 50000).foreach { i =>
      val r = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(2)
      r.update(0, i.toLong)
      r.update(1, org.apache.spark.unsafe.types.UTF8String.fromString(
        s"value-$i-${"x" * 32}"))
      w.write(r)
    }
    t.commitAppend(Seq(w.closeAndRef()))
    val ranges = graft.catalog.GraftStorage.splitRanges(path, 64 * 1024)
    assert(ranges.size > 1, s"fixture produced only ${ranges.size} ranges")
    assert(ranges.map(_._3).sum == 50000, s"split ranges lost rows: $ranges")
    val expected = (0 until 50000).map(i => s"[$i,value-$i-${"x" * 32}]")
    // drive the REAL scan with the split target the ranges used: the
    // single file must fan out to one task per range, same content
    val conf = "graft.scan.split_target_bytes"
    spark.conf.set(conf, (64 * 1024).toString)
    try {
      val q = sql("SELECT k, v FROM gstore.default.rg ORDER BY k")
      assert(q.collect().map(_.toString).toSeq == expected,
        "split scan content differs")
      // partition probe on an unsorted scan (an AQE sort plan's leaves
      // don't expose the scan RDD directly)
      val parts = sql("SELECT k, v FROM gstore.default.rg")
        .queryExecution.executedPlan.collectLeaves()
        .head.execute().getNumPartitions
      assert(parts == ranges.size,
        s"expected ${ranges.size} split partitions, got $parts")
      assert(sql("SELECT count(*) FROM gstore.default.rg").head()
        .getLong(0) == 50000, "count-only path wrong under splits")
      // pushed filters still evaluate per split
      assert(sql("SELECT count(*) FROM gstore.default.rg WHERE k < 100")
        .head().getLong(0) == 100)
    } finally spark.conf.unset(conf)
    // and WITHOUT the tiny target the small file stays one partition
    val q2 = sql("SELECT k FROM gstore.default.rg")
    assert(q2.queryExecution.executedPlan.collectLeaves()
      .head.execute().getNumPartitions == 1)
    sql("DROP TABLE gstore.default.rg")
  }

  test("MOR change feed: $changes streams (op, id, row) over delta-file " +
      "arrival, survives compaction, refuses CoW tables") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.cf")
    sql("""CREATE TABLE gstore.default.cf (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.cf VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("UPDATE gstore.default.cf SET v = 'B' WHERE k = 2")
    sql("DELETE FROM gstore.default.cf WHERE k = 3")
    // batch read of the feed: the full retained window, op-coded
    def feed() = sql(
      "SELECT `__op`, `__id`, k, v FROM gstore.default.`cf$changes` " +
        "ORDER BY `__op`, `__id`")
      .collect().map(_.toString).toSeq
    assert(feed() == Seq("[1,2,2,B]", "[2,3,null,null]"),
      s"unexpected feed content: ${feed()}")
    // streaming read with AvailableNow: same content, offset-sliced
    // (parquet sink — checkpoint-recoverable, unlike memory sinks)
    val base = Files.createTempDirectory("cf-")
    val ckpt = base.resolve("ckpt").toString
    val sink = base.resolve("sink").toString
    def relay(): Unit = {
      val q = spark.readStream.table("gstore.default.`cf$changes`")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    relay()
    assert(spark.read.parquet(sink).selectExpr("`__op`", "`__id`")
      .collect().map(_.toString).sorted.toSeq == Seq("[1,2]", "[2,3]"))
    // compaction clears the LIVE delta log but not the feed HISTORY —
    // and new DML keeps appending to the ledger
    sql("CALL gstore.system.compact('default.cf')")
    assert(tbl("cf").asInstanceOf[graft.catalog.GraftDeltaTable]
      .deltaLogSize == 0)
    assert(feed() == Seq("[1,2,2,B]", "[2,3,null,null]"),
      "compaction erased the change-feed history")
    sql("UPDATE gstore.default.cf SET v = 'A2' WHERE k = 1")
    assert(feed() == Seq("[1,1,1,A2]", "[1,2,2,B]", "[2,3,null,null]"))
    // a resumed stream picks up ONLY the post-checkpoint change
    relay()
    assert(spark.read.parquet(sink).selectExpr("`__id`")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      "resumed feed stream re-read or missed changes")
    // CoW tables serve the INSERT-ONLY incremental append feed; since
    // r16 item 5 the companion also STREAMS it (checkpointed, offsets
    // are commit versions — CowChangeFeedSpec owns the full contracts,
    // incl. the id-less refusal once removals appear). Pin here only
    // that an id-less append-only table streams its feed at all.
    sql("DROP TABLE IF EXISTS gstore.default.cfc")
    sql("CREATE TABLE gstore.default.cfc (k BIGINT)")
    sql("INSERT INTO gstore.default.cfc VALUES (7)")
    assert(sql("SELECT `__op`, k FROM gstore.default.`cfc$changes`")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((0, 7L)))
    val cfcSink = base.resolve("cfc-sink").toString
    spark.readStream.table("gstore.default.`cfc$changes`")
      .writeStream.format("parquet")
      .option("path", cfcSink)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("cfc-").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    assert(spark.read.parquet(cfcSink).selectExpr("`__op`", "k")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((0, 7L)),
      "id-less append-only CoW feed must stream its op-0 rows")
    sql("DROP TABLE gstore.default.cf")
    sql("DROP TABLE gstore.default.cfc")
  }

  test("ARRAY and STRUCT columns: exact round-trip incl. null elements, " +
      "DML carry-over, loud reject of non-atomic map keys") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.nest")
    sql("""CREATE TABLE gstore.default.nest
           (k BIGINT, emb ARRAY<FLOAT>,
            meta STRUCT<dim: INT, tag: STRING>)""")
    sql("""INSERT INTO gstore.default.nest VALUES
           (1, array(CAST(1.5 AS FLOAT), CAST(-2.25 AS FLOAT)),
            named_struct('dim', 2, 'tag', 'a')),
           (2, array(CAST(0.5 AS FLOAT), NULL, CAST(3.0 AS FLOAT)),
            named_struct('dim', 3, 'tag', CAST(NULL AS STRING))),
           (3, NULL, NULL)""")
    assert(sql("""SELECT k, emb, meta FROM gstore.default.nest
                  ORDER BY k""").collect().map(_.toString).toSeq ==
      Seq("[1,ArraySeq(1.5, -2.25),[2,a]]",
        "[2,ArraySeq(0.5, null, 3.0),[3,null]]",
        "[3,null,null]"),
      "array/struct round-trip not exact")
    // struct field access and array lambdas work over the catalog scan
    assert(sql("""SELECT k, meta.dim,
                         aggregate(emb, CAST(0 AS DOUBLE),
                                   (a, x) -> a + coalesce(x, CAST(0 AS FLOAT)))
                  FROM gstore.default.nest WHERE emb IS NOT NULL
                  ORDER BY k""").collect().map(_.toString).toSeq ==
      Seq("[1,2,-0.75]", "[2,3,3.5]"))
    // row-level DML carries nested values through the rewrite untouched
    sql("UPDATE gstore.default.nest SET k = k + 10 WHERE k = 2")
    assert(sql("SELECT k, emb, meta FROM gstore.default.nest ORDER BY k")
      .collect().map(_.toString).toSeq ==
      Seq("[1,ArraySeq(1.5, -2.25),[2,a]]",
        "[3,null,null]",
        "[12,ArraySeq(0.5, null, 3.0),[3,null]]"),
      "DML rewrite corrupted nested values")
    // non-atomic map keys and nested partition columns fail loudly
    sql("DROP TABLE IF EXISTS gstore.default.nestbad")
    val e1 = intercept[Exception] {
      sql("""CREATE TABLE gstore.default.nestbad
             (k BIGINT, x MAP<STRUCT<a: INT>, INT>)""")
    }
    assert(chain(e1).exists(m => Option(m.getMessage).exists(
      _.contains("unsupported column type"))))
    val e2 = intercept[Exception] {
      sql("""CREATE TABLE gstore.default.nestbad
             (k BIGINT, m STRUCT<a: INT>) PARTITIONED BY (m)""")
    }
    assert(chain(e2).exists(m => Option(m.getMessage).exists(
      _.contains("atomic"))))
    sql("DROP TABLE gstore.default.nest")
  }

  test("graft.sort_by: range-distributed writes give disjoint per-file " +
      "key ranges, so range predicates prune to intersecting files") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.srt")
    sql("""CREATE TABLE gstore.default.srt (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.sort_by'='k')""")
    // shuffle the input so only the WRITE's ordered distribution can
    // produce clustered files
    spark.range(10000).selectExpr(
        "CAST(conv(substr(md5(CAST(id AS STRING)), 1, 15), 16, 10) " +
          "AS BIGINT) % 100000 AS k",
        "CAST(id AS STRING) AS v")
      .repartition(8).createOrReplaceTempView("srt_src")
    // AQE would coalesce this tiny range exchange to one partition and
    // defeat the multi-file fixture (at real scale the ranges stay wide)
    val coal = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoal = spark.conf.getOption(coal)
    spark.conf.set(coal, "false")
    try sql("INSERT INTO gstore.default.srt SELECT * FROM srt_src")
    finally prevCoal.fold(spark.conf.unset(coal))(spark.conf.set(coal, _))
    val files = tbl("srt").stateNow.current.get.files
    assert(files.size > 1, "fixture wanted multiple files")
    // per-file [min, max] spans must be pairwise disjoint
    val spans = files.map { f =>
      val st = f.stats("k")
      (st.min.get.toLong, st.max.get.toLong)
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"overlapping sorted-file spans: $spans")
      case _ => ()
    }
    // a point lookup touches exactly ONE file
    val probe = spans.head._2 // an existing key (max of first span)
    val q = sql(s"SELECT v FROM gstore.default.srt WHERE k = $probe")
    q.collect()
    assert(q.queryExecution.executedPlan.toString
      .contains(s"(${files.size - 1} skipped)"),
      s"point lookup did not skip ${files.size - 1} of ${files.size} files")
    // and total content is intact
    assert(sql("SELECT count(*) FROM gstore.default.srt").head()
      .getLong(0) == 10000)
    sql("DROP TABLE gstore.default.srt")
  }

  test("stale-slot guard: a writer whose base version was pruned must " +
      "lose the CAS (round-12 stress find: linking into a freed slot " +
      "silently lost the commit)") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.slot")
    sql("CREATE TABLE gstore.default.slot (k BIGINT)")
    val t = tbl("slot")
    (1 to 4).foreach(_ => t.commitAppend(Nil)) // versions 1..4 on disk
    // simulate an AGED prune of the oldest slots (production pruning is
    // ascending with a deletion grace; tests are younger than the grace)
    Seq(0, 1, 2).foreach { v =>
      java.nio.file.Files.deleteIfExists(
        t.dir.resolve(s"_graft_log.v$v.json")): Unit
    }
    // a writer stale at base v1 attempts v2: the slot is FREE on disk,
    // so the raw link would succeed — and the commit would be invisible
    // to every reader (they only consult the max). The guard must turn
    // this into a CAS loss (rebase-and-retry), not a silent success.
    val stale = t.stateNow.copy(nextVersion = 2)
    assert(!graft.catalog.GraftStorage.casWriteLog(t.dir, stale, 2),
      "stale-slot CAS must refuse — this commit would be lost")
    // the legitimate head commit still lands
    assert(graft.catalog.GraftStorage.casWriteLog(t.dir,
      t.stateNow.copy(nextVersion = 6), 6) === false,
      "a gap beyond max+1 has no predecessor and must also refuse")
    assert(graft.catalog.GraftStorage.casWriteLog(t.dir,
      t.stateNow.copy(nextVersion = 5), 5),
      "max+1 with its predecessor alive must win")
    sql("DROP TABLE gstore.default.slot")
  }

  test("CAS commit stress: two handles' interleaved appends all survive " +
      "under contention") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.stress")
    sql("CREATE TABLE gstore.default.stress (k BIGINT)")
    val t1 = tbl("stress")
    graft.catalog.GraftCatalog.dropHandlesForTest()
    sql("SELECT count(*) FROM gstore.default.stress").collect()
    val t2 = tbl("stress")
    assert(!(t1 eq t2), "fixture needs two distinct handles")
    // interleave empty appends through both handles from two threads —
    // every commit must land (CAS losers refresh and rebase)
    val n = 20
    val th1 = new Thread(() => (1 to n).foreach(_ => t1.commitAppend(Nil)))
    val th2 = new Thread(() => (1 to n).foreach(_ => t2.commitAppend(Nil)))
    th1.start(); th2.start(); th1.join(); th2.join()
    t1.refreshFromDisk()
    // CREATE publishes v0 carrying nextVersion = 0; each append then
    // increments — 2n appends must land exactly 2n versions
    assert(t1.stateNow.nextVersion == 2 * n,
      s"lost commits: expected ${2 * n} versions, " +
        s"got ${t1.stateNow.nextVersion}")
    sql("DROP TABLE gstore.default.stress")
  }

  test("SHOW TBLPROPERTIES surfaces the table's knobs and state census") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.props")
    sql("""CREATE TABLE gstore.default.props (k BIGINT, pr STRING, v STRING)
           PARTITIONED BY (pr)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k',
                          'graft.retain'='7','graft.sort_by'='v')""")
    sql("INSERT INTO gstore.default.props VALUES (1,'a','x')")
    sql("UPDATE gstore.default.props SET v = 'y' WHERE k = 1")
    val props = sql("SHOW TBLPROPERTIES gstore.default.props")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.mode") == "mor", s"props: $props")
    assert(props("graft.row_id") == "k")
    assert(props("graft.retain") == "7")
    assert(props("graft.partitioned_by") == "pr")
    assert(props("graft.sort_by") == "v")
    assert(props("graft.current_version") == "1") // insert=v0, update=v1
    assert(props("graft.delta_files") == "1")
    sql("DROP TABLE gstore.default.props")
  }

  test("MAP columns: exact round-trip incl. null values and empty maps, " +
      "DML carry-over, map lambdas over the catalog scan") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.mp")
    sql("""CREATE TABLE gstore.default.mp
           (k BIGINT, tags MAP<STRING, BIGINT>)""")
    sql("""INSERT INTO gstore.default.mp VALUES
           (1, map('a', 1L, 'b', 2L)),
           (2, map('x', CAST(NULL AS BIGINT))),
           (3, map()),
           (4, NULL)""")
    assert(sql("SELECT k, tags FROM gstore.default.mp ORDER BY k")
      .collect().map(_.toString).toSeq ==
      Seq("[1,Map(a -> 1, b -> 2)]", "[2,Map(x -> null)]",
        "[3,Map()]", "[4,null]"),
      "map round-trip not exact")
    // map functions evaluate over the catalog scan
    assert(sql("""SELECT k, element_at(tags, 'b'),
                         aggregate(map_values(tags), 0L,
                                   (a, v) -> a + coalesce(v, 0L))
                  FROM gstore.default.mp WHERE tags IS NOT NULL
                  ORDER BY k""").collect().map(_.toString).toSeq ==
      Seq("[1,2,3]", "[2,null,0]", "[3,null,0]"))
    // DML rewrite carries maps through untouched
    sql("UPDATE gstore.default.mp SET k = k + 10 WHERE k = 1")
    assert(sql("SELECT k, tags FROM gstore.default.mp WHERE k = 11")
      .head().toString == "[11,Map(a -> 1, b -> 2)]",
      "DML rewrite corrupted a map value")
    // a non-atomic map KEY stays a loud error (values may nest freely)
    sql("DROP TABLE IF EXISTS gstore.default.mpbad")
    val e = intercept[Exception] {
      sql("""CREATE TABLE gstore.default.mpbad
             (k BIGINT, m MAP<ARRAY<INT>, BIGINT>)""")
    }
    assert(chain(e).exists(m => Option(m.getMessage).exists(
      _.contains("unsupported column type"))))
    sql("DROP TABLE gstore.default.mp")
  }

  test("commit-time row-group offsets: splits plan from the ref with " +
      "ZERO file I/O, survive the log round-trip, and the compaction " +
      "path records them (VERDICT r11 item 2)") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.rgo")
    sql("CREATE TABLE gstore.default.rgo (k BIGINT, v STRING)")
    val t = tbl("rgo")
    val path = t.dataDir + "/offsets.parquet"
    val w = new graft.catalog.GraftStorage.FileWriter(path, t.schema(),
      rowGroupBytes = 16 * 1024)
    (0 until 20000).foreach { i =>
      val r = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(2)
      r.update(0, i.toLong)
      r.update(1, org.apache.spark.unsafe.types.UTF8String.fromString(
        s"value-$i-${"x" * 32}"))
      w.write(r)
    }
    val ref = w.closeAndRef()
    assert(ref.groups.size > 1, "writer did not record row groups")
    // the recorded offsets reproduce the footer-derived split plan
    // EXACTLY, at any target
    for (target <- Seq(32 * 1024L, 64 * 1024L, 256 * 1024L))
      assert(graft.catalog.GraftStorage.rangesFromGroups(ref.groups, target)
        == graft.catalog.GraftStorage.splitRanges(path, target),
        s"offset-derived split differs from footer at target=$target")
    t.commitAppend(Seq(ref))
    // offsets survive the JSON log + a cold load
    graft.catalog.GraftCatalog.dropHandlesForTest()
    val ref2 = tbl("rgo").stateNow.current.get.files.head
    assert(ref2.groups == ref.groups, "offsets lost in the log round-trip")
    // THE no-I/O proof: hide the data file — planning the split scan
    // must still succeed (a footer fallback would throw FileNotFound)
    val hidden = Paths.get(path + ".hidden")
    Files.move(Paths.get(path), hidden)
    spark.conf.set("graft.scan.split_target_bytes", (64 * 1024).toString)
    try {
      val parts = sql("SELECT k, v FROM gstore.default.rgo")
        .queryExecution.executedPlan.collectLeaves()
        .head.execute().getNumPartitions
      assert(parts ==
        graft.catalog.GraftStorage.rangesFromGroups(ref.groups, 64 * 1024).size,
        s"planned $parts partitions")
      // restore and read through the planned splits: content intact
      Files.move(hidden, Paths.get(path))
      assert(sql("SELECT count(*) FROM gstore.default.rgo")
        .head().getLong(0) == 20000)
      // compaction populates offsets on ITS outputs too (threshold
      // lowered so the small test output qualifies)
      spark.conf.set("graft.write.group_record_min_bytes", "1")
      sql("INSERT OVERWRITE gstore.default.rgo SELECT * FROM gstore.default.rgo")
      val compacted = tbl("rgo").stateNow.current.get.files
      assert(compacted.nonEmpty && compacted.forall(_.groups.nonEmpty),
        "compaction output refs carry no row-group offsets")
      assert(sql("SELECT count(*) FROM gstore.default.rgo")
        .head().getLong(0) == 20000)
    } finally {
      spark.conf.unset("graft.scan.split_target_bytes")
      spark.conf.unset("graft.write.group_record_min_bytes")
    }
    sql("DROP TABLE gstore.default.rgo")
  }

  test("ADVICE r11: statless partition / sort_by column types reject " +
      "loudly at CREATE (MAP slipped the old enumeration; BOOLEAN/" +
      "BINARY never collected stats either)") {
    setup()
    for (bad <- Seq("MAP<STRING, BIGINT>", "BOOLEAN", "BINARY")) {
      sql("DROP TABLE IF EXISTS gstore.default.badpart")
      val e1 = intercept[Exception] {
        sql(s"""CREATE TABLE gstore.default.badpart (k BIGINT, p $bad)
                PARTITIONED BY (p)""")
      }
      assert(chain(e1).exists(m => Option(m.getMessage).exists(
        _.contains("stats-capable"))), s"partition $bad not rejected: $e1")
      sql("DROP TABLE IF EXISTS gstore.default.badsort")
      val e2 = intercept[Exception] {
        sql(s"""CREATE TABLE gstore.default.badsort (k BIGINT, s $bad)
                TBLPROPERTIES ('graft.sort_by'='s')""")
      }
      assert(chain(e2).exists(m => Option(m.getMessage).exists(
        _.contains("stats-capable"))), s"sort_by $bad not rejected: $e2")
    }
  }

  test("ADVICE r11: MOR deleteWhere re-checks its gate inside the commit " +
      "round — a foreign delta commit flips it to a loud retry error") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.dwr")
    sql("""CREATE TABLE gstore.default.dwr (k BIGINT, p BIGINT, v STRING)
           PARTITIONED BY (p)
           TBLPROPERTIES ('graft.mode'='mor', 'graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.dwr VALUES (1,10,'a'),(2,20,'b')")
    val t1 = tbl("dwr")
    // the stale handle's cached view has an EMPTY delta log, so its
    // plan-time canDeleteWhere would say yes...
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val p = new Predicate("=", Array(
      Expressions.column("p"), Expressions.literal(10L)))
    assert(t1.canDeleteWhere(Array(p)), "gate should pass on the stale view")
    // ...but a SECOND DRIVER commits a delta entry before our commit
    graft.catalog.GraftCatalog.dropHandlesForTest()
    sql("UPDATE gstore.default.dwr SET v = 'x' WHERE k = 2")
    // the commit round refreshes, re-runs the gate against the live
    // delta log, and fails LOUDLY instead of dropping base files under
    // fences bound to the old file indexes
    val e = intercept[IllegalArgumentException] { t1.deleteWhere(Array(p)) }
    assert(e.getMessage.contains("deleteWhere precondition"),
      s"gate not re-checked in-round: ${e.getMessage}")
    // nothing was dropped
    assert(sql("SELECT count(*) FROM gstore.default.dwr")
      .head().getLong(0) == 2)
    sql("DROP TABLE gstore.default.dwr")
  }

  test("ADVICE r11: a replace-all commit under the compaction guard " +
      "conflicts loudly when the planned snapshot went stale") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.cmg")
    sql("""CREATE TABLE gstore.default.cmg (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor', 'graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.cmg VALUES (1,'a')")
    val t = tbl("cmg")
    // pin the guard to the CURRENT lists — what compact() does before
    // its self-overwrite scan folds them
    val st = t.stateNow
    t.replaceAllGuard = Some((
      st.current.map(_.files.map(_.path)).getOrElse(Vector.empty),
      st.current.map(_.deltaFiles.map(_.path)).getOrElse(Vector.empty)))
    try {
      // a foreign commit lands between the scan and the replace-all
      graft.catalog.GraftCatalog.dropHandlesForTest()
      sql("INSERT INTO gstore.default.cmg VALUES (2,'b')")
      val e = intercept[IllegalStateException] { t.commitReplaceAll(Nil) }
      assert(e.getMessage.contains("compaction"),
        s"stale compaction fold not loud: ${e.getMessage}")
      // the foreign row survived — nothing was erased
      assert(sql("SELECT count(*) FROM gstore.default.cmg")
        .head().getLong(0) == 2)
    } finally t.replaceAllGuard = None
    // and a REAL compaction cycle (guard set + cleared by compact())
    // still succeeds end to end, folding a live delta entry
    sql("UPDATE gstore.default.cmg SET v = 'u' WHERE k = 1")
    sql("CALL gstore.system.compact('default.cmg')")
    assert(sql("SELECT v FROM gstore.default.cmg WHERE k = 1")
      .head().getString(0) == "u")
    sql("DROP TABLE gstore.default.cmg")
  }

  test("ADVICE r11: append-log and change-feed streams observe foreign-" +
      "process commits at latestOffset — no same-process commit needed") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.fstr")
    sql("""CREATE TABLE gstore.default.fstr (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor', 'graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.fstr VALUES (1,'a')")
    sql("UPDATE gstore.default.fstr SET v = 'b' WHERE k = 1") // 1 change op
    // a MOR table streams row-level ops on `$changes`; the append log
    // streams from a plain table's own readStream
    sql("DROP TABLE IF EXISTS gstore.default.fstr_app")
    sql("CREATE TABLE gstore.default.fstr_app (k BIGINT, v STRING)")
    sql("INSERT INTO gstore.default.fstr_app VALUES (1,'a')")
    def stream(name: String) =
      spark.sessionState.catalogManager.catalog("gstore")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("default"), name))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().toMicroBatchStream("")
    val cdc = stream("fstr$changes")
    val app = stream("fstr_app")
    val cdc0 = cdc.latestOffset().asInstanceOf[graft.catalog.GraftStreamOffset].i
    val app0 = app.latestOffset().asInstanceOf[graft.catalog.GraftStreamOffset].i
    // a SECOND DRIVER appends and deletes — the polling streams' handle
    // never commits, so only the in-poll refresh can observe it
    graft.catalog.GraftCatalog.dropHandlesForTest()
    sql("INSERT INTO gstore.default.fstr VALUES (2,'c')")
    sql("DELETE FROM gstore.default.fstr WHERE k = 2")
    sql("INSERT INTO gstore.default.fstr_app VALUES (2,'c')")
    val cdc1 = cdc.latestOffset().asInstanceOf[graft.catalog.GraftStreamOffset].i
    val app1 = app.latestOffset().asInstanceOf[graft.catalog.GraftStreamOffset].i
    assert(cdc1 == cdc0 + 1,
      s"change-feed stream stalled at $cdc0 (got $cdc1) after a foreign delta commit")
    assert(app1 == app0 + 1,
      s"append-log stream stalled at $app0 (got $app1) after a foreign append")
    sql("DROP TABLE gstore.default.fstr")
    sql("DROP TABLE gstore.default.fstr_app")
  }

  test("ARRAY<STRUCT> columns: exact round-trip incl. null elements, " +
      "null struct fields, empty and null arrays; non-atomic map keys " +
      "still reject (VERDICT r11 item 4)") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.aos")
    sql("""CREATE TABLE gstore.default.aos
           (k BIGINT, spans ARRAY<STRUCT<s: INT, t: STRING>>)""")
    sql("""INSERT INTO gstore.default.aos VALUES
           (1, array(named_struct('s', 1, 't', 'a'),
                     named_struct('s', 2, 't', 'b'))),
           (2, array(named_struct('s', CAST(NULL AS INT), 't', 'c'),
                     CAST(NULL AS STRUCT<s: INT, t: STRING>))),
           (3, array()),
           (4, CAST(NULL AS ARRAY<STRUCT<s: INT, t: STRING>>))""")
    def dump() = sql(
      """SELECT k, CASE WHEN spans IS NULL THEN '<null>'
                        ELSE concat('[', concat_ws(';',
                          transform(spans, c -> CASE WHEN c IS NULL
                            THEN 'X' ELSE concat(coalesce(CAST(c.s AS STRING),
                            '-'), '/', coalesce(c.t, '-')) END)), ']') END
         FROM gstore.default.aos ORDER BY k""")
      .collect().map(_.toString).toSeq
    val expect = Seq("[1,[1/a;2/b]]", "[2,[-/c;X]]", "[3,[]]", "[4,<null>]")
    assert(dump() == expect, s"round-trip mismatch: ${dump()}")
    // DML carry-over keeps nested values bit-identical
    sql("INSERT INTO gstore.default.aos VALUES (9, array(named_struct('s', 9, 't', 'z')))")
    sql("DELETE FROM gstore.default.aos WHERE k = 9")
    assert(dump() == expect, "DML rewrite corrupted nested content")
    // only genuinely-unstorable shapes stay loud: non-atomic map keys
    for (bad <- Seq("MAP<STRUCT<s: INT>, INT>",
        "MAP<MAP<STRING, INT>, INT>", "ARRAY<MAP<ARRAY<INT>, INT>>")) {
      sql("DROP TABLE IF EXISTS gstore.default.aosbad")
      val e = intercept[Exception] {
        sql(s"CREATE TABLE gstore.default.aosbad (k BIGINT, x $bad)")
      }
      assert(chain(e).exists(m => Option(m.getMessage).exists(
        _.contains("unsupported column type"))), s"$bad not rejected")
    }
    sql("DROP TABLE gstore.default.aos")
  }

  test("column-level stats feed CBO: a 3-table join reorders to join " +
      "the selective pair first (VERDICT r11 item 9)") {
    setup()
    for (t <- Seq("cbo_big", "cbo_mid", "cbo_tiny"))
      sql(s"DROP TABLE IF EXISTS gstore.default.$t")
    sql("CREATE TABLE gstore.default.cbo_big (k BIGINT, pad BIGINT)")
    sql("CREATE TABLE gstore.default.cbo_mid (k BIGINT, j BIGINT)")
    sql("CREATE TABLE gstore.default.cbo_tiny (j BIGINT, tag BIGINT)")
    sql("""INSERT INTO gstore.default.cbo_big
           SELECT id % 1000, id FROM range(50000)""")
    sql("""INSERT INTO gstore.default.cbo_mid
           SELECT id % 1000, id % 50 FROM range(5000)""")
    sql("""INSERT INTO gstore.default.cbo_tiny
           SELECT id, id FROM range(10)""")
    // the refs carry per-column NDV/null/min-max; sanity: recorded
    val bigRef = tbl("cbo_big").stateNow.current.get.files.head
    assert(bigRef.stats("k").ndv > 0, "writer recorded no NDV")
    val saved = Seq("spark.sql.cbo.enabled",
      "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      // written order joins (big x mid) FIRST — the expensive pair;
      // stats-fed reorder must start from the selective (mid x tiny)
      val df = sql("""
        SELECT count(*) FROM gstore.default.cbo_big b
        JOIN gstore.default.cbo_mid m ON b.k = m.k
        JOIN gstore.default.cbo_tiny t ON m.j = t.j""")
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      assert(joins.size == 2, s"expected 2 joins, got ${joins.size}")
      val deepest = joins.last.toString
      assert(!deepest.contains("cbo_big"),
        s"join NOT reordered — deepest join still includes the big table:\n$deepest")
      // and the result is right: per mid row with j<10 there are 50
      // big matches; mids with j<10 = 1000 rows -> 50*1000
      assert(df.head().getLong(0) == 50L * 1000)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    for (t <- Seq("cbo_big", "cbo_mid", "cbo_tiny"))
      sql(s"DROP TABLE gstore.default.$t")
  }

  test("graft.bucket_by: co-bucketed tables join with zero Exchange on " +
      "a HIGH-CARDINALITY key; equality lookups prune to one bucket") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.bkt_a")
    sql("DROP TABLE IF EXISTS gstore.default.bkt_b")
    sql("""CREATE TABLE gstore.default.bkt_a (k BIGINT, v BIGINT)
           TBLPROPERTIES ('graft.bucket_by'='k,8')""")
    sql("""CREATE TABLE gstore.default.bkt_b (k BIGINT, w BIGINT)
           TBLPROPERTIES ('graft.bucket_by'='k,8')""")
    sql("INSERT INTO gstore.default.bkt_a SELECT id, id * 2 FROM range(10000)")
    sql("INSERT INTO gstore.default.bkt_b SELECT id, id * 3 FROM range(10000)")
    // every file holds exactly ONE bucket, recorded on its ref
    val refs = tbl("bkt_a").stateNow.current.get.files
    assert(refs.forall(_.bucket >= 0), "bucket ids not recorded")
    assert(refs.map(_.bucket).distinct.size == refs.size,
      s"tasks split buckets across files: ${refs.map(_.bucket)}")
    // bucket pruning: a point lookup opens ONE bucket's files
    val point = sql("SELECT v FROM gstore.default.bkt_a WHERE k = 123")
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(246L))
    val skipped = "\\((\\d+) skipped\\)".r
      .findFirstMatchIn(point.queryExecution.executedPlan.toString)
      .map(_.group(1).toInt).getOrElse(-1)
    assert(skipped == refs.size - 1,
      s"point lookup skipped $skipped of ${refs.size} files")
    // SPJ: a fact-to-fact join on the bucketed key — zero Exchange.
    // requireAllClusterKeysForCoPartition=false is the documented
    // prerequisite for TRANSFORM-partitioned joins (Iceberg's bucket
    // join needs the same): the bucket(8, k) expression matches the
    // join key through its leaves, not syntactically.
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (kk, _) => kk -> spark.conf.getOption(kk) }
    confs.foreach { case (kk, vv) => spark.conf.set(kk, vv) }
    try {
      val df = sql(
        """SELECT count(*) AS n, sum(a.v + b.w) AS s
           FROM gstore.default.bkt_a a
           JOIN gstore.default.bkt_b b ON a.k = b.k""")
      val row = df.collect().head
      assert(row.getLong(0) == 10000L, s"join lost rows: ${row.getLong(0)}")
      assert(row.getLong(1) == (0L until 10000L).map(i => i * 5).sum)
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // the scalar-aggregate SinglePartition exchange is inherent to a
      // 1-row result; the JOIN must ride the storage buckets unshuffled
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"expected a shuffle-family join riding the buckets:\n$plan")
    } finally saved.foreach {
      case (kk, Some(vv)) => spark.conf.set(kk, vv)
      case (kk, None) => spark.conf.unset(kk)
    }
    // guards: bucket_by + PARTITIONED BY rejects; bad spec rejects
    sql("DROP TABLE IF EXISTS gstore.default.bktbad")
    assert(intercept[Exception](sql(
      """CREATE TABLE gstore.default.bktbad (k BIGINT, p BIGINT)
         PARTITIONED BY (p) TBLPROPERTIES ('graft.bucket_by'='k,8')"""))
      != null)
    assert(intercept[Exception](sql(
      """CREATE TABLE gstore.default.bktbad (k BIGINT)
         TBLPROPERTIES ('graft.bucket_by'='k,1')""")) != null)
    sql("DROP TABLE gstore.default.bkt_a")
    sql("DROP TABLE gstore.default.bkt_b")
  }

  test("graft.zorder_by: z-written files prune on EACH single-dimension " +
      "predicate; guards reject 1-column and sort_by overlap " +
      "(VERDICT r11 item 5)") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.zt")
    sql("""CREATE TABLE gstore.default.zt (a BIGINT, b BIGINT, v STRING)
           TBLPROPERTIES ('graft.zorder_by'='a,b')""")
    val saved = Seq(
      "spark.sql.shuffle.partitions" -> spark.conf.getOption(
        "spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.coalescePartitions.enabled" -> spark.conf
        .getOption("spark.sql.adaptive.coalescePartitions.enabled"))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // 64x64 grid -> 8 ordered write tasks -> 8 files, each a compact
      // z-range = a compact box in BOTH dims
      sql("""INSERT INTO gstore.default.zt
             SELECT id % 64, id DIV 64, concat('r', id) FROM range(4096)""")
      val files = tbl("zt").currentFilePaths.size
      assert(files >= 4, s"z-write produced only $files files")
      def skippedFor(pred: String, expectRows: Long): Int = {
        val df = sql(s"SELECT count(*) FROM gstore.default.zt WHERE $pred")
        assert(df.head().getLong(0) == expectRows, s"$pred wrong count")
        val plan = df.queryExecution.executedPlan.toString
        "\\((\\d+) skipped\\)".r.findFirstMatchIn(plan)
          .map(_.group(1).toInt).getOrElse(-1)
      }
      val sa = skippedFor("a < 8", 8L * 64)
      val sb = skippedFor("b < 8", 8L * 64)
      assert(sa >= 2, s"a-predicate skipped only $sa of $files files")
      assert(sb >= 2, s"b-predicate skipped only $sb of $files files")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    sql("DROP TABLE gstore.default.zt")
    // guards: 1 column and sort_by overlap reject loudly
    for (props <- Seq("'graft.zorder_by'='a'",
        "'graft.zorder_by'='a,b', 'graft.sort_by'='a'")) {
      sql("DROP TABLE IF EXISTS gstore.default.ztbad")
      assert(intercept[Exception](sql(
        s"CREATE TABLE gstore.default.ztbad (a BIGINT, b BIGINT) " +
          s"TBLPROPERTIES ($props)")) != null)
    }
  }

  test("field ids: MOR fold binds across RENAME COLUMN, drop+re-add " +
      "never resurrects, protected columns reject (VERDICT r11 item 3)") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.evomor")
    sql("""CREATE TABLE gstore.default.evomor (k BIGINT, v STRING, w BIGINT)
           TBLPROPERTIES ('graft.mode'='mor', 'graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.evomor VALUES (1,'a',10),(2,'b',20)")
    // delta entry written under the ORIGINAL column name
    sql("UPDATE gstore.default.evomor SET v = 'A' WHERE k = 1")
    val preRename = tbl("evomor").stateNow.current.get.version
    sql("ALTER TABLE gstore.default.evomor RENAME COLUMN v TO label")
    // the fold must apply the old-name delta through the new name
    assert(sql("SELECT k, label FROM gstore.default.evomor ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,A]", "[2,b]"),
      "pre-rename delta lost in the fold")
    // a post-rename delta folds alongside the pre-rename one
    sql("UPDATE gstore.default.evomor SET label = 'B' WHERE k = 2")
    assert(sql("SELECT k, label FROM gstore.default.evomor ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,A]", "[2,B]"))
    // stats pruning still binds old files by id: a point predicate on
    // the RENAMED column must not mis-skip (content check suffices)
    assert(sql("SELECT k FROM gstore.default.evomor WHERE label = 'A'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // drop + re-add under the same name: fresh id, old data stays dead
    sql("ALTER TABLE gstore.default.evomor DROP COLUMN w")
    sql("ALTER TABLE gstore.default.evomor ADD COLUMN w BIGINT")
    assert(sql("SELECT count(w) FROM gstore.default.evomor")
      .head().getLong(0) == 0, "dropped column data resurrected on re-add")
    // time travel replays the pre-rename schema (old name, old content)
    assert(sql(s"SELECT k, v, w FROM gstore.default.evomor VERSION AS OF $preRename ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,A,10]", "[2,b,20]"),
      "time travel lost the pre-rename schema/content")
    // compaction across the evolved schema preserves content
    sql("CALL gstore.system.compact('default.evomor')")
    assert(sql("SELECT k, label, w FROM gstore.default.evomor ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,A,null]", "[2,B,null]"))
    // protected columns: row-id neither droppable nor renamable
    for (stmt <- Seq(
        "ALTER TABLE gstore.default.evomor DROP COLUMN k",
        "ALTER TABLE gstore.default.evomor RENAME COLUMN k TO kk",
        "ALTER TABLE gstore.default.evomor RENAME COLUMN label TO `__op`"))
      assert(intercept[Exception](sql(stmt)) != null, s"$stmt not rejected")
    // content unharmed by the rejected statements
    assert(sql("SELECT count(*) FROM gstore.default.evomor")
      .head().getLong(0) == 2)
    sql("DROP TABLE gstore.default.evomor")
  }

  test("ALTER COLUMN TYPE widens INT->BIGINT / FLOAT->DOUBLE / DECIMAL " +
      "precision: old files upcast in the scan, filters stay exact, " +
      "non-widening changes reject") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.wid")
    sql("""CREATE TABLE gstore.default.wid
           (k BIGINT, i INT, f FLOAT, d DECIMAL(10,2))""")
    sql("""INSERT INTO gstore.default.wid VALUES
           (1, 7, CAST(0.1 AS FLOAT), CAST(12345678.90 AS DECIMAL(10,2))),
           (2, 42, CAST(2.5 AS FLOAT), CAST(-99.25 AS DECIMAL(10,2)))""")
    val preWiden = tbl("wid").stateNow.current.get.version
    sql("ALTER TABLE gstore.default.wid ALTER COLUMN i TYPE BIGINT")
    sql("ALTER TABLE gstore.default.wid ALTER COLUMN f TYPE DOUBLE")
    sql("ALTER TABLE gstore.default.wid ALTER COLUMN d TYPE DECIMAL(20,2)")
    assert(tbl("wid").schema().catalogString ==
      "struct<k:bigint,i:bigint,f:double,d:decimal(20,2)>")
    // post-widen rows actually NEED the wide types: a long beyond
    // Int.MaxValue, a decimal beyond precision 18 (BINARY physical)
    sql("""INSERT INTO gstore.default.wid VALUES
           (3, 5000000000, CAST(0.25 AS DOUBLE),
            CAST(123456789012345678.11 AS DECIMAL(20,2)))""")
    // mixed-file aggregate: INT32 files upcast next to INT64 files
    assert(sql("SELECT sum(i) FROM gstore.default.wid").head()
      .getLong(0) == 5000000049L)
    assert(sql("SELECT sum(d) FROM gstore.default.wid").head()
      .getDecimal(0).toPlainString == "123456789024691257.76")
    // equality on the widened column hits a PRE-widen file: the pushed
    // BIGINT predicate fails parquet's schema validator on the INT32
    // file and must fall back, not error or miss the row
    assert(sql("SELECT k FROM gstore.default.wid WHERE i = 42")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(sql("SELECT k FROM gstore.default.wid WHERE i = 5000000000")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // float->double stat re-encode: the upcast of 0.1f is
    // 0.10000000149…, NOT the 0.1 the stale narrow stat string parses
    // to — without the re-encode this point lookup would prune the
    // file that contains the row
    assert(sql("""SELECT k FROM gstore.default.wid
                  WHERE f = CAST(CAST(0.1 AS FLOAT) AS DOUBLE)""")
      .collect().map(_.getLong(0)).toSeq == Seq(1L),
      "pre-widen float row lost to stale stats pruning")
    // decimal filter across the INT64/BINARY physical boundary
    assert(sql("""SELECT k FROM gstore.default.wid
                  WHERE d = CAST(-99.25 AS DECIMAL(20,2))""")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // time travel replays the NARROW pre-widen schema
    val old = sql(
      s"SELECT * FROM gstore.default.wid VERSION AS OF $preWiden")
    assert(old.schema.catalogString ==
      "struct<k:bigint,i:int,f:float,d:decimal(10,2)>",
      s"time travel lost the narrow schema: ${old.schema.catalogString}")
    assert(old.count() == 2)
    // non-widening changes reject loudly, content unharmed
    for (stmt <- Seq(
        "ALTER TABLE gstore.default.wid ALTER COLUMN i TYPE INT",
        "ALTER TABLE gstore.default.wid ALTER COLUMN d TYPE DECIMAL(22,4)",
        "ALTER TABLE gstore.default.wid ALTER COLUMN k TYPE DOUBLE",
        "ALTER TABLE gstore.default.wid ALTER COLUMN f TYPE STRING"))
      assert(intercept[Exception](sql(stmt)) != null, s"$stmt not rejected")
    assert(sql("SELECT count(*) FROM gstore.default.wid")
      .head().getLong(0) == 3)
    sql("DROP TABLE gstore.default.wid")
  }

  test("ALTER COLUMN TYPE on merge-on-read: the fold upcasts narrow " +
      "delta files next to wide ones; layout-keyed columns reject") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.widmor")
    sql("""CREATE TABLE gstore.default.widmor (k BIGINT, n INT)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.widmor VALUES (1, 10), (2, 20)")
    // delta entry written at the NARROW type
    sql("UPDATE gstore.default.widmor SET n = 11 WHERE k = 1")
    sql("ALTER TABLE gstore.default.widmor ALTER COLUMN n TYPE BIGINT")
    // pre-widen base + pre-widen delta fold under the wide schema
    assert(sql("SELECT k, n FROM gstore.default.widmor ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,11]", "[2,20]"))
    // post-widen delta (INT64 values) folds alongside the INT32 one
    sql("UPDATE gstore.default.widmor SET n = 6000000000 WHERE k = 2")
    assert(sql("SELECT k, n FROM gstore.default.widmor ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,11]", "[2,6000000000]"))
    // compaction rewrites everything at the wide physical type
    sql("CALL gstore.system.compact('default.widmor')")
    assert(sql("SELECT sum(n) FROM gstore.default.widmor").head()
      .getLong(0) == 6000000011L)
    // the row-id column's type is layout-protected
    assert(intercept[Exception](sql(
      "ALTER TABLE gstore.default.widmor ALTER COLUMN k TYPE DECIMAL(20,0)"))
      != null)
    sql("DROP TABLE gstore.default.widmor")

    // bucket/sort layout columns reject too (hash/spans are keyed on
    // the physical value)
    sql("DROP TABLE IF EXISTS gstore.default.widbkt")
    sql("""CREATE TABLE gstore.default.widbkt (k INT, v BIGINT)
           TBLPROPERTIES ('graft.bucket_by'='k,4')""")
    assert(intercept[Exception](sql(
      "ALTER TABLE gstore.default.widbkt ALTER COLUMN k TYPE BIGINT"))
      != null)
    sql("DROP TABLE gstore.default.widbkt")
  }

  test("arbitrary nesting: struct-of-array, map-of-struct, " +
      "array-of-array, array-of-map and 3-deep shapes round-trip " +
      "exactly incl. nulls at every level; DML carries them over") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.deep")
    sql("""CREATE TABLE gstore.default.deep (
             k BIGINT,
             soa STRUCT<xs: ARRAY<BIGINT>, label: STRING>,
             mos MAP<STRING, STRUCT<a: BIGINT, b: STRING>>,
             aoa ARRAY<ARRAY<BIGINT>>,
             aom ARRAY<MAP<STRING, BIGINT>>,
             deep3 ARRAY<STRUCT<tag: STRING, inner: MAP<STRING,
               ARRAY<BIGINT>>>>)""")
    sql("""INSERT INTO gstore.default.deep VALUES
           (1, named_struct('xs', array(1L, 2L), 'label', 'a'),
               map('p', named_struct('a', 10L, 'b', 'x'),
                   'q', named_struct('a', 20L, 'b', CAST(NULL AS STRING))),
               array(array(1L), array(2L, 3L), array()),
               array(map('u', 1L), map()),
               array(named_struct('tag', 't1',
                 'inner', map('z', array(7L, 8L))))),
           (2, named_struct('xs', CAST(NULL AS ARRAY<BIGINT>),
                 'label', 'b'),
               map('r', CAST(NULL AS STRUCT<a: BIGINT, b: STRING>)),
               array(CAST(NULL AS ARRAY<BIGINT>), array(4L, NULL)),
               CAST(NULL AS ARRAY<MAP<STRING, BIGINT>>),
               array(named_struct('tag', CAST(NULL AS STRING),
                 'inner', CAST(NULL AS MAP<STRING, ARRAY<BIGINT>>)),
                 CAST(NULL AS STRUCT<tag: STRING, inner: MAP<STRING,
                   ARRAY<BIGINT>>>))),
           (3, CAST(NULL AS STRUCT<xs: ARRAY<BIGINT>, label: STRING>),
               map(), array(), array(), array())""")
    def dump(): Seq[String] =
      sql("""SELECT k, soa, to_json(mos) AS mj, aoa, aom,
                    to_json(deep3) AS dj
             FROM gstore.default.deep ORDER BY k""")
        .collect().map(_.toString).toSeq
    val expect = Seq(
      "[1,[ArraySeq(1, 2),a]," +
        """{"p":{"a":10,"b":"x"},"q":{"a":20}},""" +
        "ArraySeq(ArraySeq(1), ArraySeq(2, 3), ArraySeq())," +
        "ArraySeq(Map(u -> 1), Map())," +
        """[{"tag":"t1","inner":{"z":[7,8]}}]]""",
      "[2,[null,b]," + """{"r":null},""" +
        "ArraySeq(null, ArraySeq(4, null)),null," +
        "[{},null]]",
      "[3,null,{},ArraySeq(),ArraySeq(),[]]")
    assert(dump() == expect, s"round-trip mismatch:\n${dump().mkString("\n")}")
    // nested values survive a CoW DML rewrite bit-identically
    sql("INSERT INTO gstore.default.deep VALUES " +
      "(9, NULL, map(), array(), array(), array())")
    sql("DELETE FROM gstore.default.deep WHERE k = 9")
    assert(dump() == expect, "DML rewrite corrupted nested content")
    // lambdas reach inside the nesting on the catalog scan (flatten
    // yields NULL for row 2 — its outer array holds a null element —
    // so only row 1's 1+2+3 lands in the sum)
    assert(sql("""SELECT CAST(SUM(aggregate(flatten(aoa), 0L,
                    (acc, x) -> acc + coalesce(x, 0L))) AS BIGINT)
                  FROM gstore.default.deep""").head().getLong(0) == 6L)
    sql("DROP TABLE gstore.default.deep")
  }

  test("column DEFAULT values: CREATE + ADD COLUMN defaults, INSERT " +
      "omit-fill, pre-ADD files read the frozen default, pruning is " +
      "default-aware") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.dfl")
    sql("""CREATE TABLE gstore.default.dfl
           (k BIGINT, status STRING DEFAULT 'new', score BIGINT DEFAULT 100)""")
    // INSERT omit-fill: the analyzer fills CURRENT_DEFAULT
    sql("INSERT INTO gstore.default.dfl (k) VALUES (1)")
    sql("INSERT INTO gstore.default.dfl VALUES (2, 'old', 5)")
    assert(sql("SELECT k, status, score FROM gstore.default.dfl ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,new,100]", "[2,old,5]"))
    // ADD COLUMN with DEFAULT: rows in files that PREDATE the column
    // read the frozen EXISTS_DEFAULT, not null
    sql("""ALTER TABLE gstore.default.dfl
           ADD COLUMN region STRING DEFAULT 'emea'""")
    assert(sql("SELECT k, region FROM gstore.default.dfl ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,emea]", "[2,emea]"),
      "pre-ADD rows did not read the default")
    sql("INSERT INTO gstore.default.dfl VALUES (3, 'x', 1, 'apac')")
    sql("INSERT INTO gstore.default.dfl (k) VALUES (4)")
    assert(sql("SELECT k, region FROM gstore.default.dfl ORDER BY k")
      .collect().map(_.toString).toSeq ==
      Seq("[1,emea]", "[2,emea]", "[3,apac]", "[4,emea]"))
    // pruning is default-aware: an equality on the added column must
    // still FIND rows in pre-ADD files (min = max = default), and a
    // non-matching literal may prune them
    assert(sql("SELECT k FROM gstore.default.dfl WHERE region = 'emea'")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L),
      "default-valued pre-ADD rows lost to pruning")
    assert(sql("SELECT k FROM gstore.default.dfl WHERE region IS NOT NULL")
      .count() == 4)
    assert(sql("SELECT k FROM gstore.default.dfl WHERE region IS NULL")
      .count() == 0)
    // aggregates see the backfilled constants
    assert(sql("SELECT sum(score) FROM gstore.default.dfl")
      .head().getLong(0) == 206L)
    // DML carry-over: rewriting OTHER rows must not disturb defaults
    sql("UPDATE gstore.default.dfl SET status = 'done' WHERE k = 2")
    assert(sql("SELECT k, status, region FROM gstore.default.dfl ORDER BY k")
      .collect().map(_.toString).toSeq ==
      Seq("[1,new,emea]", "[2,done,emea]", "[3,x,apac]", "[4,new,emea]"))
    sql("DROP TABLE gstore.default.dfl")

    // MOR: a delta entry written before the ADD folds with the default
    sql("DROP TABLE IF EXISTS gstore.default.dflmor")
    sql("""CREATE TABLE gstore.default.dflmor (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.dflmor VALUES (1,'a'),(2,'b')")
    sql("UPDATE gstore.default.dflmor SET v = 'A' WHERE k = 1")
    sql("""ALTER TABLE gstore.default.dflmor
           ADD COLUMN tier BIGINT DEFAULT 7""")
    assert(sql("SELECT k, v, tier FROM gstore.default.dflmor ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,A,7]", "[2,b,7]"),
      "MOR fold lost the default on pre-ADD base/delta files")
    sql("UPDATE gstore.default.dflmor SET tier = 9 WHERE k = 2")
    assert(sql("SELECT k, tier FROM gstore.default.dflmor ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,7]", "[2,9]"))
    sql("DROP TABLE gstore.default.dflmor")
  }

  test("CALL system.rollback restores content as a NEW commit: history " +
      "preserved, tags resolve, MOR delta state reverts, unretained " +
      "targets reject") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.rb")
    sql("""CREATE TABLE gstore.default.rb (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.rb VALUES (1,'a'),(2,'b')")
    sql("UPDATE gstore.default.rb SET v = 'A' WHERE k = 1")
    sql("CALL gstore.system.tag('default.rb', 'good')")
    val goodState = Seq("[1,A]", "[2,b]")
    def dump(): Seq[String] =
      sql("SELECT k, v FROM gstore.default.rb ORDER BY k")
        .collect().map(_.toString).toSeq
    assert(dump() == goodState)
    // the bad batch: a delete, an update, and an insert
    sql("DELETE FROM gstore.default.rb WHERE k = 2")
    sql("UPDATE gstore.default.rb SET v = 'Z' WHERE k = 1")
    sql("INSERT INTO gstore.default.rb VALUES (9,'oops')")
    assert(dump() == Seq("[1,Z]", "[9,oops]"))
    val preRollbackVersion = tbl("rb").stateNow.current.get.version
    // rollback by TAG restores the pinned content as a NEW commit
    val res = sql("CALL gstore.system.rollback('default.rb', 'good')")
      .head()
    assert(dump() == goodState, s"rollback did not restore: ${dump()}")
    assert(res.getLong(1) > preRollbackVersion,
      "rollback must append a new version, not rewind the counter")
    // the bad commits stay inspectable (history preserved)...
    assert(sql(s"SELECT k, v FROM gstore.default.rb VERSION AS OF $preRollbackVersion ORDER BY k")
      .collect().map(_.toString).toSeq == Seq("[1,Z]", "[9,oops]"),
      "rollback erased history")
    // ...and the rollback is itself revertible, by version NUMBER
    sql(s"CALL gstore.system.rollback('default.rb', '$preRollbackVersion')")
    assert(dump() == Seq("[1,Z]", "[9,oops]"))
    // post-rollback DML works on the restored state
    sql("CALL gstore.system.rollback('default.rb', 'good')")
    sql("UPDATE gstore.default.rb SET v = 'B' WHERE k = 2")
    assert(dump() == Seq("[1,A]", "[2,B]"))
    // unretained / unknown targets reject loudly
    for (bad <- Seq("99999", "no_such_tag"))
      assert(intercept[Exception](sql(
        s"CALL gstore.system.rollback('default.rb', '$bad')")) != null,
        s"rollback to $bad not rejected")
    sql("DROP TABLE gstore.default.rb")
  }

  test("CHECK constraints: enforced on INSERT/UPDATE, ADD CONSTRAINT " +
      "validates existing rows, DROP lifts enforcement, non-CHECK " +
      "kinds reject") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.ck")
    sql("""CREATE TABLE gstore.default.ck
           (k BIGINT, qty BIGINT,
            CONSTRAINT qty_pos CHECK (qty > 0))""")
    sql("INSERT INTO gstore.default.ck VALUES (1, 10), (2, 20)")
    // a violating INSERT fails the WRITE — nothing commits
    val e1 = intercept[Exception](sql(
      "INSERT INTO gstore.default.ck VALUES (3, -5)"))
    assert(chain(e1).exists(m => Option(m.getMessage).exists(m =>
      m.contains("qty_pos") || m.toLowerCase.contains("check"))),
      s"violation not loud: ${e1.getMessage}")
    assert(sql("SELECT count(*) FROM gstore.default.ck").head()
      .getLong(0) == 2, "violating insert leaked rows")
    // a violating UPDATE fails too
    val e2 = intercept[Exception](sql(
      "UPDATE gstore.default.ck SET qty = -1 WHERE k = 1"))
    assert(chain(e2).nonEmpty)
    assert(sql("SELECT qty FROM gstore.default.ck WHERE k = 1").head()
      .getLong(0) == 10)
    // ADD CONSTRAINT scans existing data: a violating row blocks it
    val e3 = intercept[Exception](sql(
      "ALTER TABLE gstore.default.ck ADD CONSTRAINT k_small CHECK (k < 2)"))
    assert(chain(e3).nonEmpty, "ADD CONSTRAINT over violating data passed")
    assert(tbl("ck").stateNow.checks.map(_.name) == Vector("qty_pos"),
      "failed ADD CONSTRAINT must not be recorded")
    // a satisfiable one lands, persists in the log, and enforces
    sql("ALTER TABLE gstore.default.ck ADD CONSTRAINT k_pos CHECK (k > 0)")
    assert(tbl("ck").stateNow.checks.map(_.name).sorted ==
      Vector("k_pos", "qty_pos"))
    val e4 = intercept[Exception](sql(
      "INSERT INTO gstore.default.ck VALUES (-9, 1)"))
    assert(chain(e4).nonEmpty)
    // DROP CONSTRAINT lifts enforcement for exactly that predicate
    sql("ALTER TABLE gstore.default.ck DROP CONSTRAINT qty_pos")
    sql("INSERT INTO gstore.default.ck VALUES (4, -5)")
    assert(sql("SELECT count(*) FROM gstore.default.ck").head()
      .getLong(0) == 3)
    val e5 = intercept[Exception](sql(
      "ALTER TABLE gstore.default.ck DROP CONSTRAINT nope"))
    assert(chain(e5).nonEmpty)
    // non-CHECK constraint kinds are loud rejects, not silent claims
    sql("DROP TABLE IF EXISTS gstore.default.ckbad")
    val e6 = intercept[Exception](sql(
      """CREATE TABLE gstore.default.ckbad
         (k BIGINT, CONSTRAINT pk PRIMARY KEY (k))"""))
    assert(chain(e6).exists(m => Option(m.getMessage).exists(
      _.contains("only CHECK"))))
    sql("DROP TABLE gstore.default.ck")
  }

  test("runtime file skipping: a dim-side predicate prunes sorted fact " +
      "files at EXECUTION time through dynamic pruning; bucket ids " +
      "prune bucketed facts the stats can't") {
    setup()
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats",
      "spark.sql.sources.v2.bucketing.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // SPJ mode (bucketing.enabled, possibly left on by another spec)
    // rightly disables runtime filtering on key-grouped scans — this
    // test exercises the NON-SPJ bucket-id prune, so pin it off
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      sql("DROP TABLE IF EXISTS gstore.default.rtfact")
      sql("DROP TABLE IF EXISTS gstore.default.rtdim")
      sql("""CREATE TABLE gstore.default.rtfact (k BIGINT, v BIGINT)
             TBLPROPERTIES ('graft.sort_by'='k')""")
      sql("""INSERT INTO gstore.default.rtfact
             SELECT id, id * 7 FROM range(4096)""")
      val factFiles = tbl("rtfact").currentFilePaths.size
      assert(factFiles >= 4, s"sorted insert made only $factFiles files")
      sql("CREATE TABLE gstore.default.rtdim (k BIGINT, tag STRING)")
      sql("""INSERT INTO gstore.default.rtdim VALUES
             (5, 'pick'), (9, 'pick'), (4000, 'other')""")
      val df = sql(
        """SELECT f.k, f.v FROM gstore.default.rtfact f
           JOIN gstore.default.rtdim d ON f.k = d.k
           WHERE d.tag = 'pick' ORDER BY f.k""")
      assert(df.collect().map(_.toString).toSeq == Seq("[5,35]", "[9,63]"))
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("dynamicpruning"),
        s"no dynamic-pruning subquery injected:\n$plan")
      val scan = plan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.isInstanceOf[graft.catalog.GraftScan] &&
              b.scan.description().contains("rows") => b.scan
      }.collectFirst {
        case s: graft.catalog.GraftScan if s.plannedFileCount == factFiles => s
      }.getOrElse(fail("fact GraftScan not found in plan"))
      // keys 5 and 9 both sit in the FIRST sorted span: one survivor
      assert(scan.runtimeFileCount < scan.plannedFileCount,
        s"runtime filter pruned nothing " +
          s"(${scan.runtimeFileCount}/${scan.plannedFileCount})")
      assert(scan.runtimeFileCount == 1,
        s"expected 1 surviving sorted file, got ${scan.runtimeFileCount}")

      // bucketed fact: value stats are useless (hashing destroys
      // locality) — the recorded bucket id prunes instead
      sql("DROP TABLE IF EXISTS gstore.default.rtbkt")
      sql("""CREATE TABLE gstore.default.rtbkt (k BIGINT, v BIGINT)
             TBLPROPERTIES ('graft.bucket_by'='k,8')""")
      sql("""INSERT INTO gstore.default.rtbkt
             SELECT id, id * 3 FROM range(4096)""")
      val bktFiles = tbl("rtbkt").currentFilePaths.size
      val df2 = sql(
        """SELECT f.k, f.v FROM gstore.default.rtbkt f
           JOIN gstore.default.rtdim d ON f.k = d.k
           WHERE d.tag = 'pick' ORDER BY f.k""")
      assert(df2.collect().map(_.toString).toSeq == Seq("[5,15]", "[9,27]"))
      val scan2 = df2.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.isInstanceOf[graft.catalog.GraftScan] => b.scan
      }.collectFirst {
        case s: graft.catalog.GraftScan if s.plannedFileCount == bktFiles => s
      }.getOrElse(fail("bucketed GraftScan not found in plan"))
      assert(scan2.runtimeFileCount <= 2 &&
        scan2.runtimeFileCount < bktFiles,
        s"bucket-id runtime pruning kept ${scan2.runtimeFileCount} of " +
          s"$bktFiles files for 2 probe keys")
      sql("DROP TABLE gstore.default.rtfact")
      sql("DROP TABLE gstore.default.rtdim")
      sql("DROP TABLE gstore.default.rtbkt")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("crashed-DROP self-heal: a stale index entry whose directory is " +
      "gone resolves as table-not-found and frees the name") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.heal")
    sql("CREATE TABLE gstore.default.heal (k BIGINT)")
    sql("INSERT INTO gstore.default.heal VALUES (1)")
    val dir = tbl("heal").dir
    // simulate a DROP that crashed between rmTree and the index
    // persist: remove the directory, leave the entry (and evict the
    // in-JVM handle, as a fresh process would start)
    graft.util.Fs.rmTree(dir)
    val evicted = graft.catalog.GraftCatalog.tables.remove(
      dir.getParent.toString + "\u0000" + "default/heal")
    assert(evicted != null, "cache eviction missed - key drifted")
    // the name must resolve as GONE (self-heal), not brick the catalog
    sql("DROP TABLE IF EXISTS gstore.default.heal") // no throw
    sql("CREATE TABLE gstore.default.heal (k BIGINT, v STRING)")
    sql("INSERT INTO gstore.default.heal VALUES (2, 'b')")
    assert(sql("SELECT k, v FROM gstore.default.heal").head()
      .toString == "[2,b]")
    sql("DROP TABLE gstore.default.heal")
  }

  test("$files metadata table: one row per live file with exact counts, " +
      "bucket ids, and the stats map; MOR delta files appear as kind=" +
      "delta; reserved name rejects") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.fm")
    sql("""CREATE TABLE gstore.default.fm (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.bucket_by'='k,4')""")
    sql("INSERT INTO gstore.default.fm SELECT id, concat('r', id) FROM range(400)")
    val live = tbl("fm").currentFilePaths.toSet
    val rows = sql("""SELECT path, kind, n_rows, bucket,
                             stats['k'].min AS kmin, stats['k'].max AS kmax,
                             stats['k'].nulls AS knulls
                      FROM gstore.default.`fm$files`""").collect()
    assert(rows.map(_.getString(0)).toSet == live,
      "$files paths drifted from the live snapshot")
    assert(rows.map(_.getLong(2)).sum == 400L)
    assert(rows.forall(r => !r.isNullAt(3) && r.getInt(3) >= 0 &&
      r.getInt(3) < 4), "bucket ids missing on a bucketed table")
    assert(rows.forall(_.getLong(6) == 0L))
    assert(rows.map(r =>
      (r.getString(4).toLong, r.getString(5).toLong)).forall {
        case (lo, hi) => lo >= 0 && hi <= 399 && lo <= hi })
    // the census is SQL-composable: small-file count in one query
    assert(sql("""SELECT count(*) FROM gstore.default.`fm$files`
                  WHERE n_bytes < 1024 * 1024""").head().getLong(0)
      == live.size)
    // MOR: live delta files surface with kind='delta'
    sql("DROP TABLE IF EXISTS gstore.default.fmm")
    sql("""CREATE TABLE gstore.default.fmm (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.mode'='mor','graft.row_id'='k')""")
    sql("INSERT INTO gstore.default.fmm VALUES (1,'a'),(2,'b')")
    sql("UPDATE gstore.default.fmm SET v = 'A' WHERE k = 1")
    val kinds = sql("SELECT kind, count(*) FROM gstore.default.`fmm$files` GROUP BY kind")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.getOrElse("delta", 0L) >= 1,
      s"MOR delta files missing from the census: $kinds")
    assert(kinds.getOrElse("base", 0L) >= 1)
    // compaction folds the delta census away
    sql("CALL gstore.system.compact('default.fmm')")
    assert(sql("""SELECT count(*) FROM gstore.default.`fmm$files`
                  WHERE kind = 'delta'""").head().getLong(0) == 0)
    // reserved suffix rejects at CREATE
    assert(intercept[Exception](sql(
      "CREATE TABLE gstore.default.`bad$files` (k BIGINT)")) != null)
    sql("DROP TABLE gstore.default.fm")
    sql("DROP TABLE gstore.default.fmm")
  }

  test("ADVICE r12: a scoped-compaction commit under the matching-set " +
      "guard conflicts loudly when a foreign append hits the partition") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.cwg")
    sql("""CREATE TABLE gstore.default.cwg (p BIGINT, v STRING)
           PARTITIONED BY (p)""")
    sql("INSERT INTO gstore.default.cwg VALUES (10,'a1'),(20,'b1')")
    sql("INSERT INTO gstore.default.cwg VALUES (10,'a2')")
    val t = tbl("cwg")
    // pin the guard to the CURRENT base files — what compactWhere does
    // before its REPLACE WHERE scan
    t.replaceMatchingGuard =
      Some(t.stateNow.current.map(_.files).getOrElse(Vector.empty))
    try {
      // a foreign commit lands INTO the compacted partition between
      // the scan and the commit: its file matches p = 10, so the
      // stale replace would drop it without having read its rows
      graft.catalog.GraftCatalog.dropHandlesForTest()
      sql("INSERT INTO gstore.default.cwg VALUES (10,'a3')")
      val pred = new Predicate("=",
        Array(Expressions.column("p"), Expressions.literal(10L)))
      val e = intercept[IllegalStateException] {
        t.commitOverwriteMatching(Array(pred), Nil)
      }
      assert(e.getMessage.contains("scoped compaction"),
        s"stale matching set not loud: ${e.getMessage}")
      // the foreign row survived — nothing was erased
      assert(sql("SELECT count(*) FROM gstore.default.cwg WHERE v = 'a3'")
        .head().getLong(0) == 1)
    } finally t.replaceMatchingGuard = None
    // a foreign append OUTSIDE the compacted partition does NOT
    // conflict (the matching set is unchanged) — scoped means scoped
    t.replaceMatchingGuard =
      Some(t.stateNow.current.map(_.files).getOrElse(Vector.empty))
    try {
      graft.catalog.GraftCatalog.dropHandlesForTest()
      sql("INSERT INTO gstore.default.cwg VALUES (20,'b2')")
      val pred = new Predicate("=",
        Array(Expressions.column("p"), Expressions.literal(10L)))
      t.commitOverwriteMatching(Array(pred), Nil) // no throw
    } finally t.replaceMatchingGuard = None
    // and the REAL scoped-compaction cycle (guard set + cleared by
    // compactWhere) still succeeds end to end
    graft.catalog.GraftCatalog.dropHandlesForTest()
    sql("INSERT INTO gstore.default.cwg VALUES (20,'b3'),(20,'b4')")
    sql("CALL gstore.system.compact('default.cwg', where => 'p = 20')")
    // b1 + b2 + b3 + b4 (the no-conflict commit above overwrote p=10
    // with empty content — overwrite semantics, so only p=20 remains)
    assert(sql("SELECT count(*) FROM gstore.default.cwg WHERE p = 20")
      .head().getLong(0) == 4)
    assert(sql("SELECT count(*) FROM gstore.default.cwg")
      .head().getLong(0) == 4)
    sql("DROP TABLE gstore.default.cwg")
  }

  test("ADVICE r12: system.clone carries graft.target_file_bytes into " +
      "the creating session's live handle, not just the index entry") {
    setup()
    sql("DROP TABLE IF EXISTS gstore.default.tfsrc")
    sql("DROP TABLE IF EXISTS gstore.default.tfdst")
    sql("""CREATE TABLE gstore.default.tfsrc (k BIGINT, v STRING)
           TBLPROPERTIES ('graft.target_file_bytes'='67108864')""")
    sql("INSERT INTO gstore.default.tfsrc VALUES (1,'a')")
    sql("CALL gstore.system.clone('default.tfsrc', 'default.tfdst')")
    // BEFORE any catalog reload: the in-memory clone handle must carry
    // the knob (pre-fix it was silently 0 until a cold load)
    assert(tbl("tfdst").properties()
      .get("graft.target_file_bytes") == "67108864")
    sql("DROP TABLE gstore.default.tfsrc")
    sql("DROP TABLE gstore.default.tfdst")
  }

  /** Exception cause chain (Spark wraps task failures). */
  private def chain(e: Throwable): Seq[Throwable] = {
    val b = Seq.newBuilder[Throwable]
    var cur: Throwable = e
    while (cur != null) { b += cur; cur = cur.getCause }
    b.result()
  }
}
