package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The metadata tables `$files`, `$partitions`, `$refs` and `$history`
  * are one [[GraftMetaTable]] shape over one [[GraftLocalScan]]: each
  * keeps its schema and plans as a LocalTableScan, a base that is not a
  * managed table refuses cleanly, and `CALL system.history` reads
  * through `$history`. Source guards keep these shapes single: one
  * LocalScan, and one table-read builder built in one place. */
class MetaTableSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(q)

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.gmeta", classOf[GraftCatalog].getName)
    sql("DROP TABLE IF EXISTS gmeta.default.mt")
    sql("CREATE TABLE gmeta.default.mt (k BIGINT, p STRING) PARTITIONED BY (p)")
    sql("INSERT INTO gmeta.default.mt VALUES (1, 'a'), (2, 'b'), (3, 'b')")
    sql("CALL gmeta.system.tag('default.mt', 'first')")
    sql("INSERT INTO gmeta.default.mt VALUES (4, 'a')")
  }

  private def nonNull(names: String*)(dt: DataType): Seq[StructField] =
    names.map(StructField(_, dt, nullable = false))

  /** The schemas as the four tables declared them before they were
    * merged into one shape. */
  private val expected: Seq[(String, StructType)] = Seq(
    "$files" -> StructType(nonNull("path", "kind")(StringType) ++
      nonNull("n_rows", "n_bytes")(LongType) ++ Seq(
      StructField("bucket", IntegerType, nullable = true),
      StructField("n_row_groups", IntegerType, nullable = false),
      StructField("stats", MapType(StringType, StructType(Seq(
        StructField("min", StringType, nullable = true),
        StructField("max", StringType, nullable = true)) ++
        nonNull("nulls", "ndv")(LongType)), valueContainsNull = false),
        nullable = false))),
    "$partitions" -> StructType(nonNull("partition")(StringType) ++
      nonNull("n_files", "n_rows", "n_bytes")(LongType)),
    "$refs" -> StructType(nonNull("ref", "kind")(StringType) ++
      nonNull("version")(LongType) ++ nonNull("status")(StringType)),
    "$history" -> StructType(nonNull("version", "ts_millis", "n_files",
      "n_delta_files", "base_rows", "delta_ops")(LongType) ++
      nonNull("tags")(StringType)))

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  expected.foreach { case (sfx, schema) =>
    test(s"$sfx keeps its schema and plans as a LocalTableScan") {
      setup()
      val df = spark.table(s"gmeta.default.`mt$sfx`")
      assert(df.schema == schema, df.schema.treeString)
      val plan = df.queryExecution.executedPlan
      assert(plan.isInstanceOf[LocalTableScanExec], plan.treeString)
      assert(df.collect().nonEmpty)
    }

    test(s"$sfx over a change feed refuses instead of failing a cast") {
      setup()
      val e = intercept[Exception](
        spark.table(s"gmeta.default.`mt$$changes$sfx`").collect())
      assert(!causes(e).exists(_.isInstanceOf[ClassCastException]), e)
      assert(causes(e).exists(c => Option(c.getMessage).exists(
        _.contains(s"$sfx is not available on default/mt$$changes"))), e)
    }
  }

  test("CALL system.history returns $history's schema and rows") {
    setup()
    val call = sql("CALL gmeta.system.history('default.mt')")
    val table = sql("SELECT * FROM gmeta.default.`mt$history`")
    assert(call.schema == table.schema)
    assert(call.collect().toSeq == table.collect().toSeq)
    // the first five columns keep their names, types and order
    assert(call.schema.take(5) == expected.toMap.apply("$history").take(5))
  }

  test("CALL system.history lists a commit made through another handle") {
    setup()
    val cat = spark.sessionState.catalogManager.catalog("gmeta")
      .asInstanceOf[TableCatalog]
    def load(): GraftTable = cat.loadTable(
      Identifier.of(Array("default"), "mt")).asInstanceOf[GraftTable]
    val other = load()
    // cold-load a second handle for the catalog, then commit through
    // the first one: the cached handle has not seen that commit
    GraftCatalog.dropHandlesForTest()
    assert(load() ne other)
    other.commitAppend(Nil)
    val v = other.stateNow.current.get.version.toLong
    val versions = sql("CALL gmeta.system.history('default.mt')").collect()
      .map(_.getLong(0)).toSeq
    assert(versions.lastOption.contains(v), s"$versions, foreign $v")
  }

  private lazy val mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), Paths.get("").toAbsolutePath)
    val st = Files.walk(root)
    try st.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toVector
    finally st.close()
  }

  test("GraftLocalScan is the only LocalScan in src/main") {
    val impl = """(extends|with|new)\s+(org\.apache\.spark\.sql\.connector\.read\.)?LocalScan\b""".r
    val sites = mainSources.flatMap { case (p, src) =>
      impl.findAllIn(src).map(_ => p.getFileName.toString) }
    assert(sites == Seq("GraftMetaTable.scala"), sites)
    assert(mainSources.exists { case (_, src) =>
      src.contains("final class GraftLocalScan(") })
  }

  test("src/main has three ScanBuilders and builds table reads in " +
      "GraftTable.scala only") {
    val read = """(org\.apache\.spark\.sql\.connector\.read\.)?ScanBuilder\b"""
    val anySite = ("""\b(extends|with|new)\s+""" + read).r
    val named = ("""\bclass\s+(\w+)((?!\bclass\b)[^{])*?\bextends\s+""" +
      read).r
    val sites = mainSources.map { case (_, src) =>
      anySite.findAllIn(src).size }.sum
    val builders = mainSources.flatMap { case (_, src) =>
      named.findAllMatchIn(src).map(_.group(1)) }
    assert(builders.sorted == Seq("GraftFeedScanBuilder",
      "GraftGroupScanBuilder", "GraftScanBuilder"), builders)
    assert(sites == builders.size, s"$sites ScanBuilder sites")
    val built = mainSources.flatMap { case (p, src) =>
      """new GraftScanBuilder\(""".r.findAllIn(src)
        .map(_ => p.getFileName.toString) }
    assert(built.nonEmpty && built.forall(_ == "GraftTable.scala"), built)
  }

  test("the metadata suffix literals occur in one definition") {
    expected.map(_._1).foreach { sfx =>
      val sites = mainSources.flatMap { case (p, src) =>
        src.linesIterator.filter(_.contains("\"" + sfx + "\""))
          .map(p.getFileName.toString -> _.trim) }
      assert(sites.size == 1 && sites.head._2.startsWith("\"" + sfx + "\" ->"),
        s"$sfx: $sites")
    }
  }

  test("no graft.catalog source but CatalogQueries.scala exceeds 2,000 lines") {
    val big = mainSources.collect {
      case (p, src) if p.getParent.endsWith("catalog") &&
          p.getFileName.toString != "CatalogQueries.scala" &&
          src.linesIterator.size > 2000 =>
        p.getFileName.toString -> src.linesIterator.size
    }
    assert(big.isEmpty, big)
  }
}
