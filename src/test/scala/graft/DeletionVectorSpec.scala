package graft

import org.apache.spark.sql.Row

/** Deletion-vector tables ([[graft.catalog.GraftDvTable]],
  * `graft.mode = 'dv'`): row-level DML keyed by PHYSICAL POSITION
  * (`_file`, `_pos`) — no row-id column required.
  *
  * Pinned contracts: DELETE writes a delta-sized vector and leaves
  * every base file byte-identical on disk; UPDATE is delete+insert;
  * MERGE runs all three clause groups; `_pos` skips deleted ordinals
  * on read; time travel replays pre-delete content; compaction folds
  * vectors away and restores the plain scan path; a vector referencing
  * a no-longer-current file conflicts loudly; reserved column names
  * reject at CREATE. */
class DeletionVectorSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(q)

  private def setup(name: String): String = {
    spark.conf.set("spark.sql.catalog.gdv",
      classOf[graft.catalog.GraftCatalog].getName)
    val t = s"gdv.default.$name"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES " +
      "('graft.mode'='dv')")
    // two seed files (two commits), 4 rows each
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('a', id) FROM range(0, 4)")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('b', id) FROM range(4, 8)")
    t
  }

  private def table(name: String): graft.catalog.GraftDvTable =
    spark.sessionState.catalogManager.catalog("gdv")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("default"), name))
      .asInstanceOf[graft.catalog.GraftDvTable]

  test("DELETE writes a vector, base files stay byte-identical, " +
      "reads and _pos skip the tombstoned ordinals") {
    val t = setup("dv_del")
    import java.nio.file.{Files, Paths}
    val basePaths = table("dv_del").stateNow.current.get.files.map(_.path)
    val sizesBefore = basePaths.map(p => Files.size(Paths.get(p)))
    // stats-undecidable predicate -> positional delete, not metadata
    sql(s"DELETE FROM $t WHERE k % 3 = 1") // kills k = 1, 4, 7
    assert(sql(s"SELECT k FROM $t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 2L, 3L, 5L, 6L))
    // base files untouched on disk — the write was vector-sized
    val st = table("dv_del").stateNow.current.get
    assert(st.files.map(_.path) == basePaths, "base file set unchanged")
    assert(basePaths.map(p => Files.size(Paths.get(p))) == sizesBefore,
      "base files must be byte-identical after a positional DELETE")
    assert(st.deltaFiles.nonEmpty, "a vector file must have committed")
    assert(st.deltaFiles.map(_.rows).sum == 3L, "3 tombstoned positions")
    // _pos reflects PHYSICAL ordinals: deleted ones are absent
    val pos = sql(s"SELECT _pos FROM $t WHERE k < 4 ORDER BY _pos")
      .collect().map(_.getLong(0)).toSeq
    assert(pos == Seq(0L, 2L, 3L), s"file-1 ordinals after delete: $pos")
    // time travel to the pre-delete version replays all 8 rows
    assert(sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head()
      .getLong(0) == 8L)
  }

  test("UPDATE is delete + insert: new rows land in new files, " +
      "old positions are tombstoned") {
    val t = setup("dv_upd")
    sql(s"UPDATE $t SET v = concat(v, '!') WHERE k % 2 = 0")
    assert(sql(s"SELECT v FROM $t ORDER BY k").collect()
      .map(_.getString(0)).toSeq ==
      Seq("a0!", "a1", "a2!", "a3", "b4!", "b5", "b6!", "b7"))
    val st = table("dv_upd").stateNow.current.get
    assert(st.files.size > 2, "updated rows re-inserted as new files")
    assert(st.deltaFiles.map(_.rows).sum == 4L, "4 tombstoned positions")
  }

  test("MERGE runs matched UPDATE, matched DELETE, NOT MATCHED INSERT, " +
      "and NOT MATCHED BY SOURCE on positions") {
    val t = setup("dv_merge")
    spark.range(0, 12).selectExpr("id AS k",
      "concat('s', id) AS v").createOrReplaceTempView("dv_src")
    sql(s"""MERGE INTO $t tgt USING dv_src s ON tgt.k = s.k
            WHEN MATCHED AND s.k % 4 = 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED AND s.k < 10 THEN INSERT (k, v) VALUES (s.k, s.v)
            """)
    // k 0..7 matched: 0,4 deleted; 1,2,3,5,6,7 updated to s*;
    // k 8..11 unmatched: 8,9 inserted
    assert(sql(s"SELECT k, v FROM $t ORDER BY k").collect().toSeq ==
      Seq(Row(1L, "s1"), Row(2L, "s2"), Row(3L, "s3"), Row(5L, "s5"),
        Row(6L, "s6"), Row(7L, "s7"), Row(8L, "s8"), Row(9L, "s9")))
  }

  test("compaction folds vectors away and re-enables the plain scan") {
    val t = setup("dv_compact")
    sql(s"DELETE FROM $t WHERE k % 3 = 1")
    sql(s"UPDATE $t SET v = 'x' WHERE k = 0")
    sql(s"CALL gdv.system.compact('default.dv_compact')")
    val st = table("dv_compact").stateNow.current.get
    assert(st.deltaFiles.isEmpty, "compaction clears the vectors")
    assert(sql(s"SELECT k, v FROM $t ORDER BY k").collect().toSeq ==
      Seq(Row(0L, "x"), Row(2L, "a2"), Row(3L, "a3"), Row(5L, "b5"),
        Row(6L, "b6")))
    // post-compaction the plain builder serves manifest aggregates again
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 5L)
  }

  test("aggregates, filters, and joins are DV-exact while vectors live") {
    val t = setup("dv_agg")
    sql(s"DELETE FROM $t WHERE k IN (1, 4, 6)")
    // COUNT must NOT be served from physical refs (8) — vectors live
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 5L)
    assert(sql(s"SELECT sum(k) FROM $t WHERE k > 2").head()
      .getLong(0) == 3L + 5L + 7L)
    // join through the DV scan
    spark.range(0, 8).selectExpr("id AS k", "id * 10 AS w")
      .createOrReplaceTempView("dv_dim")
    assert(sql(s"SELECT sum(d.w) FROM $t x JOIN dv_dim d ON x.k = d.k")
      .head().getLong(0) == (0L + 2 + 3 + 5 + 7) * 10)

    // Per-file `rows` count deleted rows whatever the deletes are, so
    // every seam that answers from them must refuse: manifest
    // aggregates, exact partition pushdown, LIMIT, TopN and OFFSET.
    // Seed: file A holds k 0..2, file B k 3..11; v = v<kk>, p by parity.
    // Each input deletes or replaces k 0, 1 and 11, the rows holding
    // the extremes and most of file A.
    def seed(k: Long): (Long, String, String) =
      (k, f"v$k%02d", if (k % 2 == 0) "x" else "y")
    val dropped = Map(0L -> None, 1L -> None, 11L -> None)
    for ((input, props, dml, changed) <- Seq[(String, String,
          String => Unit, Map[Long, Option[String]])](
        ("dv_vec", "'graft.mode'='dv'",
          f => sql(s"DELETE FROM $f WHERE k IN (0, 1, 11)"), dropped),
        ("dv_eq", "'graft.mode'='dv'",
          f => sql("SELECT * FROM VALUES (0L, 'v05x', 'x'), " +
            "(1L, 'v06x', 'y'), (11L, 'v07x', 'y') AS u(k, v, p)")
            .writeTo(f).option("graft.upsert_keys", "k").append(),
          Map(0L -> Some("v05x"), 1L -> Some("v06x"), 11L -> Some("v07x"))),
        ("mor", "'graft.mode'='mor', 'graft.row_id'='k'",
          f => {
            sql(s"DELETE FROM $f WHERE k IN (0, 1, 11)")
            sql(s"UPDATE $f SET v = 'v05u' WHERE k = 7")
          },
          dropped + (7L -> Some("v05u"))));
        partitioned <- Seq(false, true)) {
      val f = s"gdv.default.dv_seam_${input}_${if (partitioned) "p" else "u"}"
      val what = s"$input ${if (partitioned) "partitioned" else "unpartitioned"}"
      sql(s"DROP TABLE IF EXISTS $f")
      sql(s"CREATE TABLE $f (k BIGINT, v STRING, p STRING) " +
        (if (partitioned) "PARTITIONED BY (p) " else "") +
        s"TBLPROPERTIES ($props)")
      Seq((0, 3), (3, 12)).foreach { case (lo, hi) =>
        sql(s"INSERT INTO $f SELECT /*+ REPARTITION(1) */ id, " +
          "format_string('v%02d', id), " +
          s"CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END FROM range($lo, $hi)")
      }
      dml(f)
      val live = (0L until 12L).map(seed).flatMap { case (k, v, p) =>
        changed.get(k) match {
          case Some(None) => None
          case Some(Some(nv)) => Some((k, nv, p))
          case None => Some((k, v, p))
        }
      }
      def one(q: String): Row = sql(q).head()
      assert(one(s"SELECT count(*) FROM $f").getLong(0) == live.size, what)
      assert(one(s"SELECT min(k), max(k), min(v), max(v) FROM $f") ==
        Row(live.map(_._1).min, live.map(_._1).max, live.map(_._2).min,
          live.map(_._2).max), what)
      assert(one(s"SELECT count(*) FROM $f WHERE p = 'x'").getLong(0) ==
        live.count(_._3 == "x"), what)
      assert(sql(s"SELECT k, v FROM $f ORDER BY k LIMIT 2").collect().toSeq ==
        live.sortBy(_._1).take(2).map(r => Row(r._1, r._2)), what)
      assert(one(s"SELECT count(*) FROM (SELECT * FROM $f LIMIT 3)")
        .getLong(0) == 3L, what)
      assert(one(s"SELECT count(*) FROM (SELECT * FROM $f OFFSET 5)")
        .getLong(0) == live.size - 5L, what)
    }
  }

  // Every kind's time-travel view serves the live table's metadata
  // columns: `_file` resolves on a pinned snapshot and names that
  // snapshot's files, also where the view folds live deletes
  for ((mode, props) <- Seq(("cow", "'graft.mode'='cow'"),
      ("dv", "'graft.mode'='dv'"),
      ("mor", "'graft.mode'='mor', 'graft.row_id'='k'")))
    test(s"$mode: time travel selects _file from the pinned snapshot") {
      spark.conf.set("spark.sql.catalog.gdv",
        classOf[graft.catalog.GraftCatalog].getName)
      val t = s"gdv.default.${mode}_tt_file"
      sql(s"DROP TABLE IF EXISTS $t")
      sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES ($props)")
      sql(s"INSERT INTO $t SELECT id, concat('a', id) FROM range(0, 4)")
      Thread.sleep(30) // commit timestamps are wall-clock millis
      val mid = java.sql.Timestamp.from(java.time.Instant.now())
      Thread.sleep(30)
      sql(s"INSERT INTO $t SELECT id, concat('b', id) FROM range(4, 8)")
      sql(s"DELETE FROM $t WHERE k % 3 = 1")
      sql(s"UPDATE $t SET v = 'u' WHERE k = 2")
      val st = spark.sessionState.catalogManager.catalog("gdv")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("default"), s"${mode}_tt_file"))
        .asInstanceOf[graft.catalog.GraftTable].stateNow
      val v0Files = st.snapshots.find(_.version == 0).get.files.map(_.path)
      for (clause <- Seq("VERSION AS OF 0", s"TIMESTAMP AS OF '$mid'")) {
        val rows = sql(s"SELECT _file, k FROM $t $clause ORDER BY k").collect()
        assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L), clause)
        assert(rows.forall(r => v0Files.contains(r.getString(0))),
          s"$clause: ${rows.toSeq} outside $v0Files")
      }
      // the current version's view answers like the live table
      val cur = st.current.get.version
      def fileRows(q: String) = sql(q).collect().toSeq.sortBy(_.getLong(1))
      assert(fileRows(s"SELECT _file, k, v FROM $t VERSION AS OF $cur") ==
        fileRows(s"SELECT _file, k, v FROM $t"))
    }

  test("a vector referencing a no-longer-current file conflicts loudly") {
    setup("dv_race")
    val tbl = table("dv_race")
    val e = intercept[IllegalStateException] {
      tbl.commitDvDelta(Nil, Nil, Set("/gone/file.parquet"))
    }
    assert(e.getMessage.contains("no longer current"), e.getMessage)
  }

  test("reserved names reject at CREATE; row-id tables are unaffected") {
    spark.conf.set("spark.sql.catalog.gdv",
      classOf[graft.catalog.GraftCatalog].getName)
    val e = intercept[Exception] {
      sql("CREATE TABLE gdv.default.dv_bad (`_pos` BIGINT) " +
        "TBLPROPERTIES ('graft.mode'='dv')")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
  }

  test("DV composes with hidden partitioning: vector-sized deletes on " +
      "a days(ts) table, merge re-inserts split per day, compaction " +
      "restores the day-pinned census") {
    spark.conf.set("spark.sql.catalog.gdv",
      classOf[graft.catalog.GraftCatalog].getName)
    val t = "gdv.default.dv_days"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"""CREATE TABLE $t (k BIGINT, ts TIMESTAMP, v DOUBLE)
            PARTITIONED BY (days(ts)) TBLPROPERTIES ('graft.mode'='dv')""")
    // 3 days x 4 rows (k % 3 picks the day)
    sql(s"""INSERT INTO $t
            SELECT id, timestamp'2024-03-15 06:00:00' +
                   make_interval(0,0,0,CAST(id % 3 AS INT),0,0,0),
                   CAST(id AS DOUBLE)
            FROM range(0, 12)""")
    val baseFiles = table("dv_days").stateNow.current.get.files
    assert(baseFiles.size == 3, s"one file per day: ${baseFiles.size}")
    // positional delete across all days — base files untouched
    sql(s"DELETE FROM $t WHERE k % 4 = 1")
    val st1 = table("dv_days").stateNow.current.get
    assert(st1.files.map(_.path) == baseFiles.map(_.path))
    assert(st1.deltaFiles.map(_.rows).sum == 3L)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 9L)
    // MERGE insert lands day-split files through the shared writer
    spark.sql("""SELECT 100 AS k,
                        timestamp'2024-03-16 09:00:00' AS ts,
                        1.0 AS v
                 UNION ALL
                 SELECT 101, timestamp'2024-03-17 09:00:00', 2.0""")
      .createOrReplaceTempView("dv_days_src")
    sql(s"""MERGE INTO $t x USING dv_days_src s ON x.k = s.k
            WHEN NOT MATCHED THEN INSERT (k, ts, v)
            VALUES (s.k, CAST(s.ts AS TIMESTAMP), CAST(s.v AS DOUBLE))""")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 11L)
    // compaction folds the vectors and re-splits per day; the census
    // then serves (it refuses while the delta log is live)
    sql("CALL gdv.system.compact('default.dv_days')")
    val census = sql(
      s"SELECT partition, n_rows FROM gdv.default.`dv_days$$partitions` " +
        "ORDER BY partition").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(census == Seq(
      ("days(ts)=2024-03-15", 3L), // k=0,3,6,9 minus k=9%4==1? 9%4=1 -> 3
      ("days(ts)=2024-03-16", 4L), // k=1,4,7,10 minus 1 dead (k=1) +100
      ("days(ts)=2024-03-17", 4L)  // k=2,5,8,11 minus 5 dead +101
    ), s"census: $census")
  }

  test("row-group splits keep positions file-global: a big file with " +
      "live vectors fans out to range tasks and still deletes exactly " +
      "the tombstoned ordinals") {
    spark.conf.set("spark.sql.catalog.gdv",
      classOf[graft.catalog.GraftCatalog].getName)
    val t = "gdv.default.dv_split"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES " +
      "('graft.mode'='dv')")
    // one multi-row-group file, written small-grouped like the
    // GraftStorageSpec offsets fixture
    val tt = table("dv_split")
    val w = new graft.catalog.GraftStorage.FileWriter(
      tt.dataDir + "/split.parquet", tt.schema(),
      rowGroupBytes = 16 * 1024)
    (0 until 20000).foreach { i =>
      val r = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(2)
      r.update(0, i.toLong)
      r.update(1, org.apache.spark.unsafe.types.UTF8String
        .fromString(s"value-$i-${"x" * 32}"))
      w.write(r)
    }
    val ref = w.closeAndRef()
    tt.commitAppend(Seq(ref))
    try {
      assert(ref.groups.size > 1, s"need multiple row groups, " +
        s"got ${ref.groups.size}")
      sql(s"DELETE FROM $t WHERE k % 1000 = 7") // 20 positions
      spark.conf.set("graft.scan.split_target_bytes", (64 * 1024).toString)
      val df = sql(s"SELECT k FROM $t")
      val parts = df.queryExecution.executedPlan.collectLeaves()
        .head.execute().getNumPartitions
      assert(parts > 1, s"expected a range-split DV scan, got $parts")
      assert(df.count() == 19980L)
      // exactly the tombstoned ordinals are gone, across every range
      assert(sql(s"SELECT count(*) FROM $t WHERE k % 1000 = 7").head()
        .getLong(0) == 0L)
      assert(sql(s"SELECT CAST(sum(k) AS BIGINT) FROM $t").head().getLong(0) ==
        (0L until 20000L).sum - (0L until 20000L).filter(_ % 1000 == 7).sum)
    } finally {
      spark.conf.unset("graft.scan.split_target_bytes")
      spark.conf.unset("graft.write.group_record_min_bytes")
    }
  }

  // mor: the merge-on-read fold plans through the same DV scan, so a
  // live delta log keeps runtime file skipping; its replacement-rows
  // partition is never skipped
  for ((mode, title, props, dml, expected) <- Seq(
      ("dv", "runtime file skipping works WITH live vectors: a dim-side " +
        "predicate prunes sorted DV-fact files at execution time, and " +
        "survivors still apply their tombstones",
        "'graft.mode'='dv'", Seq.empty[String], Seq("[5,35]")),
      ("mor", "runtime file skipping works WITH a live MOR delta log: a " +
        "dim-side predicate prunes sorted MOR-fact files at execution " +
        "time, survivors drop superseded ids, replacements still ship",
        "'graft.mode'='mor', 'graft.row_id'='k'",
        Seq("UPDATE gdv.default.mor_rtfact SET v = -5 WHERE k = 5"),
        Seq("[5,-5]")))) test(title) {
    spark.conf.set("spark.sql.catalog.gdv",
      classOf[graft.catalog.GraftCatalog].getName)
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats",
      "spark.sql.sources.v2.bucketing.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      sql(s"DROP TABLE IF EXISTS gdv.default.${mode}_rtfact")
      sql(s"DROP TABLE IF EXISTS gdv.default.${mode}_rtdim")
      sql(s"""CREATE TABLE gdv.default.${mode}_rtfact (k BIGINT, v BIGINT)
             TBLPROPERTIES ($props, 'graft.sort_by'='k')""")
      sql(s"""INSERT INTO gdv.default.${mode}_rtfact
             SELECT id, id * 7 FROM range(4096)""")
      val factFiles = spark.sessionState.catalogManager.catalog("gdv")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("default"), s"${mode}_rtfact"))
        .asInstanceOf[graft.catalog.GraftTable]
        .stateNow.current.get.files.size
      assert(factFiles >= 4, s"sorted insert made only $factFiles files")
      // live vectors: tombstone k = 9 (one of the probe keys)
      sql(s"DELETE FROM gdv.default.${mode}_rtfact WHERE k IN (9, 700)")
      dml.foreach(sql)
      sql(s"CREATE TABLE gdv.default.${mode}_rtdim (k BIGINT, tag STRING)")
      sql(s"""INSERT INTO gdv.default.${mode}_rtdim VALUES
             (5, 'pick'), (9, 'pick'), (4000, 'other')""")
      val df = sql(
        s"""SELECT f.k, f.v FROM gdv.default.${mode}_rtfact f
           JOIN gdv.default.${mode}_rtdim d ON f.k = d.k
           WHERE d.tag = 'pick' ORDER BY f.k""")
      // k=9 was tombstoned: only k=5 survives the join
      assert(df.collect().map(_.toString).toSeq == expected)
      val scan = df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.isInstanceOf[graft.catalog.GraftScan] => b.scan
      }.collectFirst {
        case s: graft.catalog.GraftScan
            if s.plannedFileCount == factFiles => s
      }.getOrElse(fail("fact GraftScan not found in plan"))
      assert(scan.runtimeFileCount < scan.plannedFileCount,
        s"runtime filter pruned nothing " +
          s"(${scan.runtimeFileCount}/${scan.plannedFileCount})")
      assert(scan.runtimeFileCount == 1,
        s"expected 1 surviving sorted file, got ${scan.runtimeFileCount}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // Spark's partition-pruning planner resolves a scan's runtime-filter
  // attributes against the scan's OUTPUT: a layout column the query
  // does not read (here the sort column `s`) must not be advertised,
  // with or without live deletes
  for ((mode, props, dml) <- Seq(
      ("cow", "'graft.mode'='cow'", "DELETE FROM $f WHERE k % 3 = 1"),
      ("dv", "'graft.mode'='dv'", "DELETE FROM $f WHERE k % 3 = 1"),
      ("mor", "'graft.mode'='mor', 'graft.row_id'='k'",
        "UPDATE $f SET v = 0 WHERE k = 3")))
    test(s"$mode: a join that does not read the sort column plans and " +
        "answers with live deletes") {
      spark.conf.set("spark.sql.catalog.gdv",
        classOf[graft.catalog.GraftCatalog].getName)
      val f = s"gdv.default.${mode}_unread_fact"
      val d = s"gdv.default.${mode}_unread_dim"
      sql(s"DROP TABLE IF EXISTS $f")
      sql(s"DROP TABLE IF EXISTS $d")
      sql(s"CREATE TABLE $f (k BIGINT, s BIGINT, v BIGINT) " +
        s"TBLPROPERTIES ($props, 'graft.sort_by'='s')")
      sql(s"INSERT INTO $f SELECT id, id % 10, id * 7 FROM range(200)")
      sql(dml.replace("$f", f))
      sql(s"CREATE TABLE $d (k BIGINT, tag STRING)")
      sql(s"INSERT INTO $d VALUES (5, 'pick'), (9, 'pick'), (100, 'x')")
      val got = sql(s"SELECT f.v FROM $f f JOIN $d d ON f.k = d.k " +
        "WHERE d.tag = 'pick' ORDER BY f.v").collect().map(_.getLong(0))
      assert(got.toSeq == Seq(35L, 63L))
    }

  test("_pos and _file are selectable on a fresh (vector-less) DV " +
      "table and again after compaction folds the vectors away") {
    val t = setup("dv_pos_fresh")
    // no DML yet: the CoW-path builder must build the positional scan
    // when _pos is requested (ADVICE r14 — this used to error at runtime)
    val fresh = sql(s"SELECT _file, _pos, k FROM $t ORDER BY k").collect()
    assert(fresh.map(_.getLong(1)).toSeq ==
      Seq(0L, 1L, 2L, 3L, 0L, 1L, 2L, 3L), "per-file physical ordinals")
    assert(fresh.map(_.getString(0)).distinct.length == 2, "two base files")
    // an un-ordered OFFSET over _pos keeps Spark's Offset operator above
    // the positional scan: any 6 rows of the full read are a valid answer
    val triples = fresh.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val skipped = sql(s"SELECT _file, _pos, k FROM $t OFFSET 2").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(skipped.length == 6, skipped.toSeq)
    assert(skipped.forall(triples.contains), skipped.toSeq)
    // composes with a filter (file pruning + residual eval intact)
    assert(sql(s"SELECT _pos FROM $t WHERE k = 5").head().getLong(0) == 1L)
    // aggregate WITHOUT _pos still takes the manifest-served path
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 8L)
    // after DML + compaction the table is vector-less again — _pos
    // must keep serving through the same re-plan
    sql(s"DELETE FROM $t WHERE k = 0")
    sql("CALL gdv.system.compact('default.dv_pos_fresh')")
    assert(table("dv_pos_fresh").stateNow.current.get.deltaFiles.isEmpty)
    assert(sql(s"SELECT _pos FROM $t").collect().length == 7)
    // time travel to a vector-less snapshot (both seed inserts, no
    // vectors yet) re-plans too
    assert(sql(s"SELECT _pos FROM $t VERSION AS OF 1").collect()
      .length == 8)
  }

  test("a stale UPDATE/MERGE commit whose tombstones overlap vectors " +
      "committed since its scan conflicts; a delete-only one unions") {
    import org.apache.spark.sql.types._
    val t = setup("dv_overlap")
    val tbl = table("dv_overlap")
    val scanVer = tbl.stateNow.current.get.version
    val victim = tbl.stateNow.current.get.files.head.path // k=0..3
    // a CONCURRENT commit lands first: tombstones (victim, pos 2)
    sql(s"UPDATE $t SET v = 'z' WHERE k = 2")
    val dvSchema = StructType(Seq(
      StructField("__file", StringType, nullable = false),
      StructField("__pos", LongType, nullable = false)))
    def vectorRef() = {
      val w = new graft.catalog.GraftStorage.FileWriter(
        tbl.deltaDir + "/dv-test-" +
          java.util.UUID.randomUUID().toString + ".parquet", dvSchema)
      val r = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(2)
      r.update(0, org.apache.spark.unsafe.types.UTF8String
        .fromString(victim))
      r.update(1, 2L)
      w.write(r)
      w.closeAndRef()
    }
    def dataRef() = {
      val w = new graft.catalog.GraftStorage.FileWriter(
        tbl.dataDir + "/data-test-" +
          java.util.UUID.randomUUID().toString + ".parquet", tbl.schema())
      val r = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(2)
      r.update(0, 99L)
      r.update(1, org.apache.spark.unsafe.types.UTF8String.fromString("dup"))
      w.write(r)
      w.closeAndRef()
    }
    // the STALE operation scanned at scanVer and re-inserts a row for
    // the same position the concurrent UPDATE already rewrote: both
    // committing would duplicate the row — loud conflict
    val e = intercept[IllegalStateException] {
      tbl.commitDvDelta(Seq(vectorRef()), Seq(dataRef()), Set(victim),
        scanVersion = scanVer)
    }
    assert(e.getMessage.contains("duplicate or resurrect"), e.getMessage)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 8L)
    // a delete-only commit with the same stale snapshot still unions:
    // double-tombstoning a position is idempotent
    tbl.commitDvDelta(Seq(vectorRef()), Nil, Set(victim),
      scanVersion = scanVer)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 8L)
    assert(sql(s"SELECT v FROM $t WHERE k = 2").head().getString(0) == "z")
  }

  test("a row-level delta landing between the small-file rewrite's " +
      "gate and its commit conflicts inside the commit round") {
    val t = setup("dv_pack_race")
    sql(s"DELETE FROM $t WHERE k = 1") // live vector
    val tbl = table("dv_pack_race")
    // simulate the race: the planner-side gate passed (pretend), the
    // delta committed, and the replace-commit must now refuse
    val e = intercept[IllegalStateException] {
      tbl.commitReplaceFiles(
        Set(tbl.stateNow.current.get.files.head.path), Nil,
        requireEmptyDelta = true)
    }
    assert(e.getMessage.contains("row-level delta"), e.getMessage)
    // table unharmed: tombstone still applies
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 7L)
  }

  test("graft.dv.max_live_positions bounds the driver fold: an " +
      "over-cap scan refuses with a compact-first error, compaction " +
      "is exempt and cures it") {
    spark.conf.set("spark.sql.catalog.gdv",
      classOf[graft.catalog.GraftCatalog].getName)
    val t = "gdv.default.dv_bound"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES " +
      "('graft.mode'='dv', 'graft.dv.max_live_positions'='4')")
    sql(s"INSERT INTO $t SELECT id, concat('x', id) FROM range(0, 20)")
    sql(s"DELETE FROM $t WHERE k % 7 = 1")   // 3 live tombstones: ok
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 17L)
    sql(s"DELETE FROM $t WHERE k % 9 = 2")   // +2 = 5 live: over cap
    val e = intercept[IllegalStateException] {
      sql(s"SELECT count(*) FROM $t").collect()
    }
    assert(e.getMessage.contains("max_live_positions"), e.getMessage)
    assert(e.getMessage.contains("system.compact"), e.getMessage)
    // DML scans are bound too
    val e2 = intercept[Exception] {
      sql(s"DELETE FROM $t WHERE k = 3")
    }
    assert(e2.getMessage.contains("max_live_positions"), e2.getMessage)
    // the cure is exempt, and restores the scan path
    sql("CALL gdv.system.compact('default.dv_bound')")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 15L)
    // the cap is ALTER-tunable like the other graft knobs
    sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      "('graft.dv.max_live_positions'='0')")
    sql(s"DELETE FROM $t WHERE k % 2 = 0")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 7L)
  }

  test("untouched files take the fast reader path while touched ones " +
      "fold: a single-file DELETE leaves the other file's scan " +
      "plain-shaped and every answer exact") {
    val t = setup("dv_mixed")
    // tombstone rows of the FIRST file only (k in 0..3)
    sql(s"DELETE FROM $t WHERE k IN (1, 3)")
    // a filtered read touching both files: the second file (k 4..7)
    // carries no tombstones and reads through the plain fast path
    assert(sql(s"SELECT k FROM $t WHERE k >= 2 ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 4L, 5L, 6L, 7L))
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 6L)
    // _pos forces the ordinal-counting path everywhere and stays exact
    // (file paths are UUIDs — compare per-file ordinal SETS, not order)
    val perFile = sql(s"SELECT _file, _pos FROM $t").collect()
      .groupBy(_.getString(0)).values
      .map(_.map(_.getLong(1)).sorted.toSeq).toSet
    assert(perFile == Set(Seq(0L, 2L), Seq(0L, 1L, 2L, 3L)),
      s"got $perFile")
  }

  test("renaming a column referenced by live equality-delete entries " +
      "refuses until compaction") {
    val t = setup("dv_eqrename")
    spark.sql("SELECT 1L AS k, 'x' AS v").writeTo(t)
      .option("graft.upsert_keys", "k").append()
    val e = intercept[Exception] {
      sql(s"ALTER TABLE $t RENAME COLUMN k TO kk")
    }
    assert(e.getMessage != null && (e.getMessage.contains("k") ||
      e.getCause != null), e.getMessage)
    sql("CALL gdv.system.compact('default.dv_eqrename')")
    sql(s"ALTER TABLE $t RENAME COLUMN k TO kk") // folded: rename frees
    assert(sql(s"SELECT count(*) FROM $t WHERE kk = 1").head()
      .getLong(0) == 1L)
  }

  test("DV survives a cold reload: vectors apply after the handle is " +
      "rebuilt from disk") {
    val t = setup("dv_reload")
    sql(s"DELETE FROM $t WHERE k % 2 = 1")
    // evict ALL live handles; next load reconstructs from the JSON log
    graft.catalog.GraftCatalog.dropHandlesForTest()
    assert(sql(s"SELECT k FROM $t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 2L, 4L, 6L))
  }
}
