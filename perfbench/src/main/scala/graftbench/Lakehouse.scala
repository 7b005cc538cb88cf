package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.json4s._

/** lakehouse_dml: three catalog tables, one per storage kind (copy-on-write,
  * deletion vectors, merge-on-read), seeded from `orders`, then a seeded
  * sequence of small INSERT/UPDATE/DELETE/MERGE statements (one commit
  * each) interleaved with selective reads, full aggregates and bounded
  * `$changes` reads. Reads and change slices are checked against the
  * values run.py's plain model expects; the final table contents are
  * dumped for the same model to check. */
final class Lakehouse(c: Ctx) extends Workload {
  import c.{formats, tr}

  private val kinds = Seq("cow", "dv", "mor")
  private val ops: IndexedSeq[JValue] = (c.plan \ "lakehouse" \ "ops").children.toIndexedSeq
  private val retain = (c.plan \ "lakehouse" \ "retain").extract[Int]
  private val setupReps = (c.plan \ "setup_reps").extract[Int]
  /** table version before the first timed statement, per kind */
  private val baseVersion = scala.collection.mutable.Map.empty[String, Long]
  private val wh = Paths.get(c.workDir, "graftcat")

  private def table(k: String) = s"bench.default.t_$k"
  private def feed(k: String) = s"bench.default.`t_$k$$changes`"
  private def version(k: String): Long = c.spark
    .sql(s"SELECT max(version) FROM bench.default.`t_$k$$history`").head().getLong(0)

  private def create(name: String, k: String, rows: String): Unit = {
    c.spark.sql(s"DROP TABLE IF EXISTS bench.default.$name")
    c.spark.sql(s"""CREATE TABLE bench.default.$name (o_orderkey BIGINT,
      o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE,
      o_orderpriority STRING) TBLPROPERTIES ('graft.mode'='$k',
      'graft.row_id'='o_orderkey', 'graft.retain'='$retain')""")
    c.spark.sql(s"""INSERT INTO bench.default.$name
      SELECT /*+ REPARTITION_BY_RANGE(8, o_orderkey) */ o_orderkey, o_custkey,
        o_orderstatus, o_totalprice, o_orderpriority FROM lh_orders $rows""")
  }

  def setup(): Seq[Double] = {
    c.spark.read.parquet(s"${c.dataDir}/orders.parquet").createOrReplaceTempView("lh_orders")
    // one pass over every statement kind on a small scratch table per
    // storage kind, so the timed phase does not pay first-use costs
    for (k <- kinds) tr.span("warmup") {
      val w = s"bench.default.w_$k"
      create(s"w_$k", k, "WHERE o_orderkey < 200")
      c.spark.sql(s"INSERT INTO $w VALUES (900000001, 1, 'N', 1.5, '2-HIGH')")
      c.spark.sql(s"UPDATE $w SET o_totalprice = o_totalprice + 1.5 WHERE o_orderkey BETWEEN 10 AND 12")
      c.spark.sql(s"DELETE FROM $w WHERE o_orderkey IN (3, 50)")
      c.spark.sql(s"""MERGE INTO $w USING (SELECT * FROM VALUES (5L, 2.5D), (900000002L, 3.5D)
        AS s(k, p)) s ON $w.o_orderkey = s.k WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        o_orderpriority) VALUES (s.k, 0, 'M', s.p, '3-MEDIUM')""")
      c.spark.sql(s"SELECT count(*), sum(o_totalprice) FROM $w").collect()
      c.spark.read.option("from_version", "1").option("to_version", "2")
        .table(s"bench.default.`w_$k$$changes`").collect()
      c.spark.sql(s"DROP TABLE $w")
    }
    // set-up proper: create and seed the three tables, repeated
    val reps = (1 to setupReps).map { _ =>
      val t0 = System.nanoTime()
      kinds.foreach(k => tr.span(s"setup.seed.$k") { create(s"t_$k", k, "") })
      (System.nanoTime() - t0) / 1e9
    }
    kinds.foreach(k => baseVersion(k) = version(k))
    reps
  }

  def hasOp(i: Int): Boolean = i < ops.size
  private val roundLen = (c.plan \ "lakehouse" \ "round_len").extract[Int]
  /** Whole rounds only, and at least two: every run times the same mix. */
  override def canStopBefore(i: Int): Boolean = i % roundLen == 0 && i >= 2 * roundLen

  /** (net inserted, net deleted) rows of a copy-on-write or
    * deletion-vector feed slice: a rewritten file shows as its old rows
    * deleted and its new rows inserted, so identical rows cancel. For
    * merge-on-read the slice holds one row per delta op, counted by op. */
  private def feedCounts(k: String, from: Long, to: Long): Map[String, Long] = {
    val df = c.spark.read.option("from_version", from.toString)
      .option("to_version", to.toString).table(feed(k))
    if (k == "mor")
      df.groupBy("__op").count().collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
    else {
      val data = df.columns.filterNot(_.startsWith("__")).map(x => col(s"`$x`"))
      val net = df.groupBy(data: _*).agg(
        sum(when(col("__op") === 0, 1L).otherwise(0L)) - sum(when(col("__op") === 2, 1L).otherwise(0L)) as "n")
      val r = net.agg(coalesce(sum(greatest(col("n"), lit(0L))), lit(0L)),
        coalesce(sum(greatest(-col("n"), lit(0L))), lit(0L))).head()
      Map("0" -> r.getLong(0), "2" -> r.getLong(1))
    }
  }

  private def filesUnder(k: String): Map[Path, Long] =
    Files.list(wh).iterator().asScala.filter(_.getFileName.toString.startsWith(s"t_$k-"))
      .flatMap(d => Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)))
      .map(p => p -> Files.size(p)).toMap

  def runOp(i: Int): OpRec = {
    val op = ops(i)
    val kind = (op \ "kind").extract[String]
    val k = (op \ "table").extract[String]
    val name = s"catalog.$k.$kind"
    kind match {
      case "insert" | "update" | "delete" | "merge" =>
        val before = if (tr.on) filesUnder(k) else Map.empty[Path, Long]
        val rec = timed(kind, name, k) {
          tr.span(name) { c.spark.sql((op \ "sql").extract[String]) }
          Right(())
        }
        if (tr.on) {
          val after = filesUnder(k)
          val created = after.filter { case (p, _) => !before.contains(p) }
          tr.add(s"catalog.$k.commits", 1)
          tr.add(s"catalog.$k.files_created", created.size)
          tr.add(s"catalog.$k.bytes_created", created.values.sum.toDouble)
          tr.add("catalog.rows_changed", (op \ "rows_changed").extract[Double])
          val logs = after.filter(_._1.getFileName.toString.matches("_graft_log\\.v\\d+\\.json"))
          if (logs.nonEmpty) {
            val newest = logs.maxBy { case (p, _) =>
              p.getFileName.toString.stripPrefix("_graft_log.v").stripSuffix(".json").toLong }
            tr.add(s"catalog.$k.root_log_bytes_sum", newest._2.toDouble)
          }
        }
        rec
      case "read" | "scan" =>
        val opens0 = graft.catalog.GraftStorage.fileOpens.get()
        val rec = timed(kind, name, k) {
          val rows = tr.span(name) { c.spark.sql((op \ "sql").extract[String]).collect() }
          val (n, s) =
            if (kind == "read") (rows.length.toLong, rows.map(_.getDouble(1)).sum)
            else (rows.map(_.getLong(1)).sum, rows.map(_.getDouble(2)).sum)
          val en = (op \ "expect_rows").extract[Long]
          val es = (op \ "expect_sum").extract[Double]
          if (n != en) Left(s"$name op $i: $n rows, expected $en")
          else if (math.abs(s - es) > 1e-9 * math.max(1.0, math.abs(es)) + 1e-6)
            Left(s"$name op $i: sum $s, expected $es")
          else Right(())
        }
        tr.add("catalog.file_opens", (graft.catalog.GraftStorage.fileOpens.get() - opens0).toDouble)
        tr.add("catalog.reads", 1)
        rec
      case "changes" =>
        val seq = (op \ "dml_seq").extract[Long]
        val v = baseVersion(k) + seq
        timed(kind, name, k) {
          val got = tr.span(name) { feedCounts(k, v - 1, v) }.filter(_._2 != 0)
          val exp = (op \ "expect_feed").extract[Map[String, Long]].filter(_._2 != 0)
          if (got == exp) Right(())
          else Left(s"$name op $i: slice ($v-1, $v] counts $got, expected $exp")
        }
    }
  }

  def finish(done: Seq[OpRec]): Map[String, Seq[String]] = {
    val dml = ops.take(done.size).map(o => ((o \ "kind").extract[String], (o \ "table").extract[String]))
      .filter(x => Set("insert", "update", "delete", "merge")(x._1))
    val versionFails = kinds.flatMap { k =>
      val want = baseVersion(k) + dml.count(_._2 == k)
      val got = version(k)
      if (got == want) None else Some(s"t_$k: version $got after the run, expected $want")
    }
    kinds.foreach { k =>
      c.spark.table(table(k)).coalesce(1).write.mode("overwrite")
        .parquet(s"${c.workDir}/final_$k")
    }
    extra("final_dirs") = kinds.map(k => k -> s"${c.workDir}/final_$k").toMap
    extra("base_version") = baseVersion.toMap
    extra("table_bytes") = kinds.map(k => k -> filesUnder(k).values.sum).toMap
    Map("operations" -> done.filterNot(_.ok).map(_.err), "versions" -> versionFails)
  }
}
