package graft.catalog

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A driver-local scan over precomputed rows: Spark plans it as a
  * LocalTableScan, so no task is scheduled and no file is opened. Every
  * metadata table, the manifest-served aggregate and every `CALL`
  * result is one of these. */
final class GraftLocalScan(schema: StructType, data: Array[InternalRow],
    desc: String) extends LocalScan {
  override def rows(): Array[InternalRow] = data
  override def readSchema(): StructType = schema
  override def description(): String = desc
}

/** `<table>$<suffix>` — a read-only metadata companion of a managed
  * table (Iceberg's metadata tables): driver metadata served as a
  * [[GraftLocalScan]], so answering "is this table healthy?" in plain
  * SQL costs no cluster work. Re-reads the base table's on-disk state
  * at scan build, so foreign commits are visible. */
final class GraftMetaTable(ident: String, base: GraftTable,
    kind: GraftMetaTable.Kind) extends Table with SupportsRead {
  kind.check(base)

  override def name(): String = ident
  override def schema(): StructType = kind.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  def scan(): GraftLocalScan = {
    base.refreshFromDisk()
    val data = kind.rows(base)
    new GraftLocalScan(kind.schema, data,
      s"${kind.label}($ident, ${data.length} ${kind.noun})")
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => scan()
}

object GraftMetaTable {

  /** One metadata table: its schema, its rows over the refreshed base,
    * the label and noun its scan description uses, and a refusal run
    * when the table is loaded. */
  final case class Kind(label: String, noun: String, schema: StructType,
      rows: GraftTable => Array[InternalRow],
      check: GraftTable => Unit = _ => ())

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** `$files` — the file census: one row per live data/delta file with
    * its exact row/byte counts, bucket id, recorded row-group count and
    * the full per-column stats map (small-file counts, skew and stats
    * coverage in plain SQL instead of spelunking the log). */
  val Files: Kind = Kind("GraftFilesTable", "live files",
    StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("bucket", IntegerType, nullable = true),
      StructField("n_row_groups", IntegerType, nullable = false),
      StructField("stats", MapType(StringType, StructType(Seq(
        StructField("min", StringType, nullable = true),
        StructField("max", StringType, nullable = true),
        StructField("nulls", LongType, nullable = false),
        StructField("ndv", LongType, nullable = false))),
        valueContainsNull = false), nullable = false))),
    { base =>
      val snap = base.stateNow.current
      def row(f: GraftFileRef, kind: String): InternalRow = {
        val keys = f.stats.keys.toArray
        new GenericInternalRow(Array[Any](
          utf8(f.path), utf8(kind), f.rows, f.bytes,
          if (f.bucket >= 0) f.bucket else null,
          f.groups.size,
          new ArrayBasedMapData(
            new GenericArrayData(keys.map(k => utf8(k): Any)),
            new GenericArrayData(keys.map { k =>
              val st = f.stats(k)
              new GenericInternalRow(Array[Any](
                st.min.map(utf8).orNull, st.max.map(utf8).orNull,
                st.nulls, st.ndv)): Any
            }))))
      }
      (snap.map(_.files).getOrElse(Vector.empty).map(row(_, "base")) ++
        snap.map(_.deltaFiles).getOrElse(Vector.empty)
          .map(row(_, "delta"))).toArray
    })

  /** `$history` — one row per RETAINED snapshot with commit time,
    * file/delta census, row totals and the tags pinning it: the audit a
    * reviewer reads before time-traveling or rolling back. */
  val History: Kind = Kind("GraftHistoryTable", "retained snapshots",
    StructType(Seq("version", "ts_millis", "n_files", "n_delta_files",
      "base_rows", "delta_ops").map(StructField(_, LongType,
      nullable = false)) :+ StructField("tags", StringType,
      nullable = false)),
    { base =>
      val st = base.stateNow
      st.snapshots.map { sn =>
        val tags = st.tags.collect {
          case (n, v) if v == sn.version => n
        }.toSeq.sorted.mkString(",")
        new GenericInternalRow(Array[Any](
          sn.version.toLong, sn.tsMillis,
          sn.files.size.toLong, sn.deltaFiles.size.toLong,
          sn.files.map(_.rows).sum, sn.deltaFiles.map(_.rows).sum,
          utf8(tags))): InternalRow
      }.toArray
    })

  /** `$partitions` — the per-partition census (Iceberg's `partitions`
    * table): one row per live partition tuple with exact file/row/byte
    * counts, derived ENTIRELY from the commit refs (partitioned writes
    * pin each file's partition values in its min/max stats). Files whose
    * partition tuple is unpinnable (null partition values) census under
    * a NULL rendering rather than being silently dropped. Rejects
    * unpartitioned tables loudly. */
  val Partitions: Kind = Kind("GraftPartitionsTable", "partitions",
    StructType(StructField("partition", StringType, nullable = false) +:
      Seq("n_files", "n_rows", "n_bytes").map(StructField(_, LongType,
        nullable = false))),
    { base =>
      // honesty gate: a live MOR delta log holds rows the base-file
      // census cannot attribute to partitions (delta files are not
      // partition-split) — refusing beats silently under-counting
      require(base.stateNow.current.forall(_.deltaFiles.isEmpty),
        s"$$partitions on a merge-on-read table requires an empty " +
          "delta log (delta rows are not partition-attributable from " +
          "metadata) — CALL system.compact first")
      val pfs = base.partFields
      val sch = base.stateNow.schema
      def key(f: GraftFileRef): String =
        pfs.map { pf =>
          // identity: pinned means min == max; transform: pinned means
          // min and max land in the SAME transform bucket (a one-day
          // file's span is within the day) — rendered Iceberg-style
          // (days(ts)=2024-03-15)
          val o = GraftStorage.ordinalByName(
            sch.fieldNames.toIndexedSeq, pf.col)
          val dt = sch.fields(o).dataType
          val pinned = f.stats.get(pf.col).collect {
            case st if st.nulls == 0 && st.min.isDefined =>
              if (pf.isIdentity) {
                if (st.min == st.max) Some(st.min.get) else None
              } else {
                val kmin = pf.eval(dt,
                  GraftStorage.statFromString(dt, st.min.get))
                val kmax = pf.eval(dt,
                  GraftStorage.statFromString(dt, st.max.get))
                if (kmin == kmax) Some(pf.render(dt, kmin)) else None
              }
          }.flatten
          s"${pf.encoded}=${pinned.getOrElse("null")}"
        }.mkString("/")
      base.stateNow.current.map(_.files).getOrElse(Vector.empty)
        .groupBy(key).toArray.sortBy(_._1)
        .map { case (k, fs) =>
          new GenericInternalRow(Array[Any](utf8(k),
            fs.size.toLong, fs.map(_.rows).sum, fs.map(_.bytes).sum))
            : InternalRow
        }
    },
    base => require(base.partitionCols.nonEmpty,
      s"$$partitions requires a partitioned table " +
        s"(${base.name()} has no PARTITIONED BY columns)"))

  /** `$refs` — every named ref of the table: TAGS (in-state version
    * pins — WAP publish points, clone/rollback anchors) and BRANCHES
    * (writable zero-copy sibling tables, [[GraftCatalog.createBranch]]),
    * each with its pinned/base version and, for branches, whether main
    * has moved since the fork (the fast-forward eligibility a reviewer
    * checks before publishing). `branches` lists a table's branches as
    * (name, base version), ordered by name. */
  def refs(branches: GraftTable => Seq[(String, String)]): Kind =
    Kind("GraftRefsTable", "refs",
      StructType(Seq("ref", "kind").map(StructField(_, StringType,
        nullable = false)) ++ Seq(
        StructField("version", LongType, nullable = false),
        StructField("status", StringType, nullable = false))),
      { base =>
        val st = base.stateNow
        val curV = st.current.map(_.version).getOrElse(-1)
        def row(name: String, kind: String, v: Long,
            status: String): InternalRow =
          new GenericInternalRow(Array[Any](
            utf8(name), utf8(kind), v, utf8(status)))
        (st.tags.toSeq.sortBy(_._1).map { case (n, v) =>
          row(n, "tag", v.toLong,
            if (v == curV) "current" else "pinned")
        } ++ branches(base).map { case (n, bv) =>
          row(n, "branch", bv.toLong,
            if (bv.toIntOption.contains(curV)) "fast_forwardable"
            else "diverged")
        }).toArray
      })
}
