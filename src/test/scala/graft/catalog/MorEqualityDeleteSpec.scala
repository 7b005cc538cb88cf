package graft.catalog

import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkSpec

/** The merge-on-read read path: a live delta log folds into equality
  * deletes on the row id, one entry per fence, plus the replacement
  * rows, and reads run through the positional [[GraftScan]]. Pinned
  * here: fences from interleaved appends and
  * updates merge into ONE key set per base-file partition, reads equal
  * a plain model, and an unfenced (legacy) delta ref drops its ids in
  * every base file. */
class MorEqualityDeleteSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(q)

  private def create(name: String): String = {
    spark.conf.set("spark.sql.catalog.gmeq", classOf[GraftCatalog].getName)
    val t = s"gmeq.default.$name"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) TBLPROPERTIES " +
      "('graft.mode'='mor', 'graft.row_id'='id')")
    t
  }

  private def table(name: String): GraftDeltaTable =
    spark.sessionState.catalogManager.catalog("gmeq")
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("default"), name))
      .asInstanceOf[GraftDeltaTable]

  private def dvScan(q: String): GraftScan =
    sql(q).queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] =>
        b.scan.asInstanceOf[GraftScan]
    }.getOrElse(fail(s"no GraftScan in the plan of $q"))

  test("interleaved INSERTs and UPDATEs: several fences, at most one " +
      "key set per base-file partition, results equal a plain model") {
    val t = create("fences")
    val model = scala.collection.mutable.TreeMap.empty[Long, Long]
    (0 until 4).foreach { r =>
      val lo = r * 40L
      // two base files per append: each later UPDATE fences at a
      // larger base-file count
      sql(s"INSERT INTO $t SELECT /*+ REPARTITION(2) */ id, id " +
        s"FROM range($lo, ${lo + 40})")
      (lo until lo + 40).foreach(i => model(i) = i)
      sql(s"UPDATE $t SET v = v + ${1000 * (r + 1)} WHERE id % 5 = $r")
      model.keys.filter(_ % 5 == r).foreach(i => model(i) += 1000 * (r + 1))
      if (r % 2 == 1) {
        sql(s"DELETE FROM $t WHERE id % 9 = $r")
        model.keys.filter(_ % 9 == r).toSeq.foreach(model.remove)
      }
    }
    val delta = table("fences").stateNow.current.get.deltaFiles
    assert(delta.map(_.fence).distinct.size >= 3,
      s"expected several fences, got ${delta.map(_.fence).distinct}")

    val scan = dvScan(s"SELECT id, v FROM $t")
    val parts = scan.planInputPartitions()
    val fileParts = parts.collect { case p: GraftFilePartition => p }
    assert(fileParts.nonEmpty)
    assert(fileParts.forall(_.eqDels.size <= 1),
      "a base-file partition must probe one key set per key shape: " +
        fileParts.map(_.eqDels.size).mkString(","))
    // the first append's files sit under every fence: their one set
    // merges the ids of several fence groups
    assert(fileParts.exists(_.eqDels.nonEmpty))
    assert(parts.count(_.isInstanceOf[GraftMorRowsPartition]) == 1,
      "the replacement rows ship as one partition")

    val got = sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == model.toSeq)
    // a filtered read applies the same fold
    val filtered = sql(s"SELECT id, v FROM $t WHERE id < 50 ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(filtered == model.toSeq.filter(_._1 < 50))
    sql(s"DROP TABLE $t")
  }

  test("a delta ref whose log entry has no fence field drops its ids " +
      "in every base file") {
    val t = create("legacy_fence")
    // one base file, so the DELETE cannot drop a whole file and must
    // write a delta entry
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, id * 10 " +
      "FROM range(1, 4)")
    sql(s"DELETE FROM $t WHERE id = 3")
    // id 3 re-enters in a base file appended AFTER the delete: the
    // delete's fence exempts it
    sql(s"INSERT INTO $t VALUES (3, 31)")
    def rows(): Seq[(Long, Long)] =
      sql(s"SELECT id, v FROM $t ORDER BY id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(rows() == Seq(1L -> 10L, 2L -> 20L, 3L -> 31L))

    // republish the same state with every `fence` field stripped, as a
    // log written before fences existed would carry it
    val tt = table("legacy_fence")
    val st = tt.stateNow
    assert(st.current.get.deltaFiles.nonEmpty &&
      st.current.get.deltaFiles.forall(_.fence >= 0))
    val json = GraftStorage.stateToJson(
      st.copy(nextVersion = st.nextVersion + 1))
    val stripped = json.replaceAll("\"fence\"\\s*:\\s*-?\\d+\\s*,", "")
    assert(!stripped.contains("\"fence\""))
    val legacy = GraftStorage.stateFromJson(stripped)
    assert(legacy.current.get.deltaFiles.forall(_.fence == -1))
    assert(GraftStorage.casWriteLog(tt.dir, legacy, legacy.nextVersion))

    // unfenced: the delete applies to every base file, the later one too
    assert(rows() == Seq(1L -> 10L, 2L -> 20L))
    sql(s"DROP TABLE $t")
  }
}
