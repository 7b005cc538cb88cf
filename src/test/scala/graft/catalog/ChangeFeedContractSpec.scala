package graft.catalog

import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.catalog.{Identifier, TableCapability, TableCatalog}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The `<table>$changes` contract every table kind shares: one Table,
  * ScanBuilder and Scan serve the copy-on-write, deletion-vector and
  * merge-on-read feeds ([[ChangeSource]]), so capabilities, option
  * parsing and the batch/stream refusals hold for each kind alike.
  * Kind-specific contracts live in CowChangeFeedSpec, DvChangeFeedSpec
  * and ChangeBoundsSpec. */
class ChangeFeedContractSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(q)

  private val props = Map(
    "cow" -> "'graft.row_id'='k'",
    "dv" -> "'graft.mode'='dv'",
    "mor" -> "'graft.mode'='mor', 'graft.row_id'='k'")

  /** A table of `kind` with two appends, an UPDATE and a DELETE. */
  private def setup(kind: String, name: String): String = {
    spark.conf.set("spark.sql.catalog.gcfc", classOf[GraftCatalog].getName)
    val t = s"gcfc.default.${name}_$kind"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES (${props(kind)})")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('a', id) FROM range(0, 4)")
    sql(s"INSERT INTO $t SELECT /*+ REPARTITION(1) */ id, " +
      "concat('b', id) FROM range(4, 6)")
    sql(s"UPDATE $t SET v = 'u' WHERE k = 1")
    sql(s"DELETE FROM $t WHERE k = 4")
    t
  }

  private def feed(t: String): String = {
    val i = t.lastIndexOf('.')
    s"${t.take(i)}.`${t.drop(i + 1)}$$changes`"
  }

  private def stream(t: String, options: Map[String, String]): Seq[Row] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    var r = spark.readStream
    options.foreach { case (k, v) => r = r.option(k, v) }
    r.table(feed(t))
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cfc-").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.collect() }: Unit
      }
      .start().awaitTermination()
    buf.toSeq
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(x => Option(x.getMessage)).toSeq

  private def refusal(t: String, options: Map[String, String]): Seq[String] =
    messages(intercept[Exception](stream(t, options)))

  for (kind <- props.keys) {
    test(s"$kind: $$changes reports BATCH_READ and MICRO_BATCH_READ") {
      setup(kind, "cfc_caps")
      val caps = spark.sessionState.catalogManager.catalog("gcfc")
        .asInstanceOf[TableCatalog]
        .loadTable(Identifier.of(Array("default"), s"cfc_caps_$kind$$changes"))
        .capabilities()
      assert(caps == java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ), caps.toString)
    }

    test(s"$kind: from_version on readStream refuses") {
      val t = setup(kind, "cfc_bound")
      val ms = refusal(t, Map("from_version" -> "0"))
      assert(ms.exists(_.contains("streaming reads track progress")),
        ms.mkString("\n"))
    }

    test(s"$kind: a negative maxRowsPerTrigger rejects") {
      val t = setup(kind, "cfc_neg")
      val ms = refusal(t, Map("maxRowsPerTrigger" -> "-1"))
      assert(ms.exists(_.contains("maxRowsPerTrigger must be non-negative")),
        ms.mkString("\n"))
    }
  }

  test("cow: a per-trigger cap on the version-axis stream refuses, " +
      "naming the cure") {
    val t = setup("cow", "cfc_cap")
    val ms = refusal(t, Map("maxFilesPerTrigger" -> "1"))
    assert(ms.exists(m => m.contains("commit versions") &&
      m.contains("leave the cap out") && m.contains("MOR or DV")),
      ms.mkString("\n"))
  }

  // CowChangeFeedSpec pins stream == batch for the version-axis stream
  for (kind <- Seq("dv", "mor")) {
    test(s"$kind: an AvailableNow stream equals the unbounded batch " +
        "read, row for row") {
      val t = setup(kind, "cfc_eq")
      def key(r: Row) = r.toSeq.map(String.valueOf).mkString("|")
      val batch = spark.read.table(feed(t)).collect().map(key).sorted.toSeq
      // one ledger file per micro-batch: several batches, one answer
      val streamed = stream(t, Map("maxFilesPerTrigger" -> "1"))
        .map(key).sorted
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream/batch diverged:\n$streamed\nvs\n$batch")
    }
  }
}
