package graft

/** Deletion-vector DELETE-size ladder (VERDICT r14 item 3): how scan
  * cost grows with the fraction of rows tombstoned — 1% / 10% / 30% of
  * a fresh orders-shaped DV table positionally deleted, then a
  * scan-dominated aggregate timed with the vectors LIVE and again
  * after compaction folds them away. The live-scan overhead is the
  * driver fold (O(tombstones)) plus the per-row ordinal check; the
  * ladder makes the documented bound a measured number and anchors
  * the `graft.dv.max_live_positions` guidance.
  *
  * Prints one JSON line per rung: delete seconds, live tombstones,
  * live-scan seconds (min-of-3), compacted-scan seconds (min-of-3).
  *
  * Usage: runMain graft.DvLadder [sfDir] — results recorded in
  * BASELINE.md ("DV delete ladder").
  */
object DvLadder {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .createOrReplaceTempView("dvl_src")

    def timeMin3(f: () => Unit): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }.min

    Seq(1, 10, 30).foreach { pct =>
      val t = s"graft_cat.default.dvl_$pct"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"""CREATE TABLE $t TBLPROPERTIES ('graft.mode'='dv')
                    AS SELECT * FROM dvl_src""")
      def agg(): Unit =
        spark.sql(s"""SELECT COUNT(*), SUM(o_totalprice), SUM(o_custkey),
                             COUNT(o_orderpriority) FROM $t""")
          .collect(): Unit
      agg() // warm the fresh-table path
      val t0 = System.nanoTime()
      // modulus predicate: stats-undecidable, so the DELETE is a real
      // positional vector write, never the metadata fast path
      spark.sql(s"DELETE FROM $t WHERE o_orderkey % 100 < $pct")
      val delSec = (System.nanoTime() - t0) / 1e9
      agg() // warm the vector fold path
      val liveSec = timeMin3(() => agg())
      val live = spark.sessionState.catalogManager.catalog("graft_cat")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("default"), s"dvl_$pct"))
        .asInstanceOf[graft.catalog.GraftDvTable].dvLogSize
      spark.sql(s"CALL graft_cat.system.compact('default.dvl_$pct')")
      agg()
      val compactSec = timeMin3(() => agg())
      val rows = spark.table(t).count()
      println(f"""{"ladder":"dv_delete","pct":$pct,"rows_after":$rows,""" +
        f""""tombstones":$live,"delete_sec":$delSec%.3f,""" +
        f""""live_scan_sec":$liveSec%.3f,""" +
        f""""compacted_scan_sec":$compactSec%.3f}""")
      spark.sql(s"DROP TABLE $t")
    }

    // EQUALITY-UPSERT rungs (VERDICT r14 item 7's scale story): upsert
    // p% of the keys in one batch — the write is O(batch) regardless
    // of table size (no position scan), and the read-side premium is
    // the fenced key-set probe until compaction folds it away.
    Seq(1, 10, 30).foreach { pct =>
      val t = s"graft_cat.default.dvlu_$pct"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"""CREATE TABLE $t TBLPROPERTIES ('graft.mode'='dv')
                    AS SELECT * FROM dvl_src""")
      def agg(): Unit =
        spark.sql(s"""SELECT COUNT(*), SUM(o_totalprice), SUM(o_custkey),
                             COUNT(o_orderpriority) FROM $t""")
          .collect(): Unit
      agg()
      val batch = spark.sql(
        s"""SELECT o_orderkey, o_custkey, o_totalprice + 1.0
              AS o_totalprice, o_orderpriority
            FROM dvl_src WHERE o_orderkey % 100 < $pct""")
      val t0 = System.nanoTime()
      batch.writeTo(t).option("graft.upsert_keys", "o_orderkey").append()
      val upSec = (System.nanoTime() - t0) / 1e9
      agg()
      val liveSec = timeMin3(() => agg())
      spark.sql(s"CALL graft_cat.system.compact('default.dvlu_$pct')")
      agg()
      val compactSec = timeMin3(() => agg())
      val rows = spark.table(t).count()
      println(f"""{"ladder":"dv_upsert","pct":$pct,"rows_after":$rows,""" +
        f""""upsert_sec":$upSec%.3f,"live_scan_sec":$liveSec%.3f,""" +
        f""""compacted_scan_sec":$compactSec%.3f}""")
      spark.sql(s"DROP TABLE $t")
    }
    spark.stop()
  }
}
