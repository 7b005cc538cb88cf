package graft.catalog

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `CALL` maintenance procedures for the managed catalog — the
  * lakehouse operations a table format exposes as stored procedures
  * (Iceberg's `CALL cat.system.rewrite_data_files` /
  * `expire_snapshots`), on Spark 4.1's public `ProcedureCatalog` seam:
  *
  *   CALL graft_cat.system.compact('default.orders_mor')
  *   CALL graft_cat.system.expire_snapshots('default.orders_state')
  *
  * `compact` folds a MOR table's delta log into its base AND rewrites
  * a copy-on-write table's accumulated small files into one pass —
  * both run as the DISTRIBUTED self-overwrite (`INSERT OVERWRITE t
  * SELECT * FROM t`; the scan is snapshot-isolated from the replacing
  * commit), so the driver only coordinates. `expire_snapshots` deletes
  * data files referenced by no retained snapshot and no append-log
  * entry (see [[GraftTable.expireOrphanFiles]]).
  *
  * Each call returns a one-row summary through a [[GraftLocalScan]] — the
  * driver-visible audit record (files/ops before and after), which is
  * exactly the payload a scheduled maintenance job logs. */
object GraftProcedures {

  private def tableParam: Array[ProcedureParameter] =
    Array(ProcedureParameter.in("table", StringType)
      .comment("namespace-qualified table name, e.g. 'default.events'")
      .build())

  /** Parse "ns.name" (`what` = "table" or "view") into an identifier. */
  private def qualifiedIdent(q: String, what: String = "table")
      : Identifier = {
    val parts = q.split('.')
    require(parts.length >= 2,
      s"expected namespace-qualified $what name, got '$q'")
    Identifier.of(parts.init, parts.last)
  }

  /** Resolve "ns.table" inside `cat` (the procedure's own catalog). */
  private def resolve(cat: GraftCatalog, qualified: String): (Identifier, GraftTable) = {
    val ident = qualifiedIdent(qualified)
    (ident, cat.loadTable(ident).asInstanceOf[GraftTable])
  }

  /** A one-row result: Long values as BIGINT columns, any other value
    * as a STRING column. */
  private def summaryScan(fields: Seq[(String, Any)]): Scan = {
    val schema = StructType(fields.map {
      case (n, _: Long) => StructField(n, LongType, nullable = false)
      case (n, _) => StructField(n, StringType, nullable = false)
    })
    val row = new GenericInternalRow(fields.map {
      case (_, v: Long) => v
      case (_, v) => UTF8String.fromString(v.toString)
    }.toArray)
    new GraftLocalScan(schema, Array(row),
      s"GraftProcedureResult(${schema.catalogString})")
  }

  private abstract class GraftProcedure(procName: String, descr: String,
      params: Array[ProcedureParameter])
      extends UnboundProcedure with BoundProcedure {
    def this(procName: String, descr: String) =
      this(procName, descr, GraftProcedures.tableParam)
    override def name(): String = procName
    override def description(): String = descr
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    protected def run(input: InternalRow): Scan
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      Collections.singletonList(run(input)).iterator()
  }

  def load(cat: GraftCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"unknown procedure namespace ${ident.namespace().mkString(".")}")
    ident.name() match {
      case "compact" => new GraftProcedure("compact",
        "fold the MOR delta log / rewrite accumulated files via a " +
          "distributed self-overwrite; an optional partition predicate " +
          "scopes the rewrite to matching partitions (REPLACE WHERE) — " +
          "every other file survives byte-identical",
        tableParam :+ ProcedureParameter.in("where", StringType)
          .defaultValue("NULL")
          .comment("partition-decidable SQL predicate scoping the " +
            "rewrite; omitted = whole table")
          .build()) {
        override protected def run(input: InternalRow): Scan = {
          val qualified = input.getUTF8String(0).toString
          val (_, t) = resolve(cat, qualified)
          val filesBefore = t.currentFilePaths.size.toLong
          val opsBefore = t.stateNow.current
            .map(_.deltaFiles.map(_.rows).sum).getOrElse(0L)
          val fqn = s"${cat.name()}.$qualified"
          if (input.isNullAt(1))
            // guarded self-overwrite: a foreign commit landing between
            // the scan and the replace-all commit conflicts loudly
            // instead of being erased (ADVICE r11)
            t.compact(SparkSession.active, fqn)
          else
            t.compactWhere(SparkSession.active, fqn,
              input.getUTF8String(1).toString)
          summaryScan(Seq(
            "files_before" -> filesBefore,
            "delta_ops_folded" -> opsBefore,
            "files_after" -> t.currentFilePaths.size.toLong,
            "rows" -> t.baseRowCount))
        }
      }
      case "expire_snapshots" => new GraftProcedure("expire_snapshots",
        "delete data files referenced by no retained snapshot and no " +
          "append-log entry, skipping files younger than older_than_ms " +
          "(in-flight-writer grace, ADVICE r10)",
        tableParam :+ ProcedureParameter.in("older_than_ms", LongType)
          .defaultValue(GraftTable.GcGraceMs.toString)
          .comment("only files at least this old (ms) are swept; " +
            "0 = no grace (single-writer maintenance)")
          .build()) {
        override protected def run(input: InternalRow): Scan = {
          val (_, t) = resolve(cat, input.getUTF8String(0).toString)
          val grace = if (input.isNullAt(1)) GraftTable.GcGraceMs
            else input.getLong(1)
          val deleted = t.expireOrphanFiles(grace).toLong
          summaryScan(Seq(
            "orphan_files_deleted" -> deleted,
            "retained_snapshots" -> t.retainedVersions.size.toLong))
        }
      }
      case "history" => new GraftProcedure("history",
        "retained snapshot history: version, commit time, file/delta " +
          "counts and row totals per retained commit (the audit view a " +
          "reviewer reads before time-traveling)") {
        override protected def run(input: InternalRow): Scan = {
          // the `$history` table's scan: disk state re-read, all columns
          val (_, t) = resolve(cat, input.getUTF8String(0).toString)
          val hist = new GraftMetaTable(s"${t.name()}$$history", t,
            GraftMetaTable.History).scan()
          new GraftLocalScan(hist.readSchema(), hist.rows(),
            s"GraftHistory(${hist.rows().length} retained snapshots)")
        }
      }
      case "tag" => new GraftProcedure("tag",
        "pin the table's CURRENT content under a name readable as " +
          "VERSION AS OF '<name>'; re-tagging MOVES the name — the " +
          "publish step of write-audit-publish (VERDICT r11 item 7). " +
          "Tagged snapshots are exempt from retention trimming.",
        tableParam :+ ProcedureParameter.in("name", StringType)
          .comment("tag name (must not be a bare integer)")
          .build()) {
        override protected def run(input: InternalRow): Scan = {
          val (_, t) = resolve(cat, input.getUTF8String(0).toString)
          val v = t.tagVersion(input.getUTF8String(1).toString)
          summaryScan(Seq(
            "tagged_version" -> v.toLong,
            "retained_snapshots" -> t.retainedVersions.size.toLong))
        }
      }
      case "rollback" => new GraftProcedure("rollback",
        "restore the table's CONTENT to a retained version (number or " +
          "tag) as a NEW commit — history preserved, bad commits stay " +
          "inspectable, the rollback itself revertible; current schema " +
          "is kept (Iceberg's rollback_to_snapshot)",
        tableParam :+ ProcedureParameter.in("version", StringType)
          .comment("retained version number or tag name")
          .build()) {
        override protected def run(input: InternalRow): Scan = {
          val (_, t) = resolve(cat, input.getUTF8String(0).toString)
          val v = t.rollbackTo(input.getUTF8String(1).toString)
          summaryScan(Seq(
            "restored_version" -> v.toLong,
            "current_version" -> t.stateNow.current
              .map(_.version.toLong).getOrElse(-1L),
            "rows" -> t.baseRowCount))
        }
      }
      case "clone" => new GraftProcedure("clone",
        "zero-copy clone: a new independent table hard-linking the " +
          "source's current content — O(files) metadata, no data " +
          "movement, fully independent lifecycles (links share inodes; " +
          "either side's DML/GC/DROP touches only its own directory). " +
          "Keeps schema (field ids included), layout properties, and " +
          "CHECK constraints; history/tags/change-feed do not transfer. " +
          "Live MOR delta logs clone verbatim (fences stay valid).",
        tableParam :+ ProcedureParameter.in("target", StringType)
          .comment("namespace-qualified clone name, e.g. 'default.orders_dev'")
          .build() :+ ProcedureParameter.in("version", StringType)
          .defaultValue("NULL")
          .comment("retained version number or tag to clone AT " +
            "(omitted = current content)")
          .build()) {
        override protected def run(input: InternalRow): Scan = {
          val srcQ = input.getUTF8String(0).toString
          val dstQ = input.getUTF8String(1).toString
          val at = if (input.isNullAt(2)) None
            else Some(input.getUTF8String(2).toString)
          val (nFiles, nRows) = cat.cloneTable(qualifiedIdent(srcQ),
            qualifiedIdent(dstQ), at)
          summaryScan(Seq(
            "files_linked" -> nFiles,
            "rows" -> nRows))
        }
      }
      case "create_view" => new GraftProcedure("create_view",
        "create (or with replace=true, replace) a persistent SQL view " +
          "in this catalog — pure metadata, re-analyzed per query so " +
          "base-table evolution stays visible. The definition must " +
          "analyze at create time (loud instead of a broken view). " +
          "Read it as <catalog>.<ns>.<name>; list with show_views; " +
          "remove with drop_view.",
        Array(ProcedureParameter.in("view", StringType)
          .comment("namespace-qualified view name, e.g. 'default.v'")
          .build(),
          ProcedureParameter.in("sql", StringType)
          .comment("the view definition (qualify table names with " +
            "their catalog)")
          .build(),
          ProcedureParameter.in("replace", StringType)
          .defaultValue("'false'")
          .comment("'true' = CREATE OR REPLACE semantics")
          .build())) {
        override protected def run(input: InternalRow): Scan = {
          val q = input.getUTF8String(0).toString
          val sqlText = input.getUTF8String(1).toString
          val replace = !input.isNullAt(2) &&
            input.getUTF8String(2).toString.equalsIgnoreCase("true")
          val ident = qualifiedIdent(q, "view")
          val spark = SparkSession.active
          // refuse definitions over TEMP views: they analyze fine in
          // the CREATING session, then vanish — or bind to a DIFFERENT
          // reader's like-named temp view — at read time (ADVICE r13).
          // Persistent short names are fine: read-side expansion pins
          // them to the captured catalog/namespace (GraftViewSql).
          val parsed = spark.sessionState.sqlParser.parsePlan(sqlText)
          graft.plans.GraftViewSql.referredRelations(parsed)
            .foreach { parts =>
              require(!spark.sessionState.catalog.isTempView(parts),
                s"view definition references temp view " +
                  s"'${parts.mkString(".")}' — temp views die with " +
                  "the creating session; reference a persistent " +
                  "table (qualified with its catalog) instead")
            }
          // create-time validation: the definition must analyze NOW
          val analyzed = spark.sql(sqlText)
          val info = new org.apache.spark.sql.connector.catalog.ViewInfo(
            ident, sqlText,
            spark.sessionState.catalogManager.currentCatalog.name(),
            spark.sessionState.catalogManager.currentNamespace,
            analyzed.schema,
            analyzed.schema.fieldNames,
            Array.empty[String], Array.empty[String],
            java.util.Collections.emptyMap[String, String]())
          val v = if (replace) cat.replaceView(info, true)
            else cat.createView(info)
          summaryScan(Seq(
            "view" -> v.name(),
            "columns" -> v.schema().fieldNames.mkString(",")))
        }
      }
      case "drop_view" => new GraftProcedure("drop_view",
        "drop a persistent SQL view created by create_view " +
          "(metadata only; base tables untouched).",
        Array(ProcedureParameter.in("view", StringType)
          .comment("namespace-qualified view name")
          .build())) {
        override protected def run(input: InternalRow): Scan = {
          val q = input.getUTF8String(0).toString
          val dropped = cat.dropView(qualifiedIdent(q, "view"))
          summaryScan(Seq("dropped" -> dropped.toString))
        }
      }
      case "show_views" => new GraftProcedure("show_views",
        "list this catalog's persistent SQL views in a namespace — " +
          "one row per view with its column list, the captured " +
          "creation context short names were pinned to, and the full " +
          "definition text (the SHOW CREATE VIEW equivalent).",
        Array(ProcedureParameter.in("namespace", StringType)
          .defaultValue("'default'")
          .comment("namespace to list (default: 'default')")
          .build())) {
        override protected def run(input: InternalRow): Scan = {
          val ns = if (input.isNullAt(0)) "default"
            else input.getUTF8String(0).toString
          def utf8(s: String) =
            org.apache.spark.unsafe.types.UTF8String.fromString(s)
          val schema = StructType(Seq(
            StructField("view", StringType, nullable = false),
            StructField("columns", StringType, nullable = false),
            StructField("captured_context", StringType, nullable = false),
            StructField("definition", StringType, nullable = false)))
          val out = cat.listViews(ns.split('.').toIndexedSeq: _*)
            .sortBy(_.name()).map { id =>
              val v = cat.loadView(id)
              new GenericInternalRow(Array[Any](
                utf8(id.name()),
                utf8(v.schema().fieldNames.mkString(",")),
                utf8((v.currentCatalog() +:
                  v.currentNamespace().toSeq).mkString(".")),
                utf8(v.query()))): InternalRow
            }
          new GraftLocalScan(schema, out,
            s"GraftShowViews(${out.length} views)")
        }
      }
      case "create_branch" => new GraftProcedure("create_branch",
        "fork the table's current snapshot as a fully writable " +
          "zero-copy sibling table <table>_branch_<branch> (hard " +
          "links, O(files) metadata). Work lands on the branch with " +
          "every normal write path; main stays untouched. Publish " +
          "back with system.fast_forward; abandon with " +
          "system.drop_branch (refuses unpublished work unless " +
          "forced).",
        tableParam :+ ProcedureParameter.in("branch", StringType)
          .comment("branch name (alphanumeric/underscore)")
          .build()) {
        override protected def run(input: InternalRow): Scan = {
          val qualified = input.getUTF8String(0).toString
          val ident = qualifiedIdent(qualified)
          val branch = input.getUTF8String(1).toString
          val (branchTable, nf, nr) = cat.createBranch(ident, branch)
          summaryScan(Seq(
            "branch_table" -> branchTable,
            "files_linked" -> nf.toString,
            "rows" -> nr.toString))
        }
      }
      case "drop_branch" => new GraftProcedure("drop_branch",
        "drop a branch created by create_branch. REFUSES while the " +
          "branch holds content main does not (an unpublished branch " +
          "is what fast_forward publishes; dropping it would discard " +
          "audited work) unless force => 'true'. Hard links keep " +
          "main's bytes alive regardless.",
        tableParam :+ ProcedureParameter.in("branch", StringType)
          .comment("branch name previously created by create_branch")
          .build() :+ ProcedureParameter.in("force", StringType)
          .defaultValue("'false'")
          .comment("'true' = drop even with unpublished content")
          .build()) {
        override protected def run(input: InternalRow): Scan = {
          val qualified = input.getUTF8String(0).toString
          val ident = qualifiedIdent(qualified)
          val branch = input.getUTF8String(1).toString
          val force = !input.isNullAt(2) &&
            input.getUTF8String(2).toString.equalsIgnoreCase("true")
          val (branchTable, dropped) = cat.dropBranch(ident, branch, force)
          summaryScan(Seq(
            "branch_table" -> branchTable,
            "dropped" -> dropped.toString))
        }
      }
      case "fast_forward" => new GraftProcedure("fast_forward",
        "publish a branch's current content back to main as ONE " +
          "atomic commit — allowed only while main is still exactly " +
          "at the branch point (a concurrent main commit fails this " +
          "loudly; diverged branches merge manually or re-branch). " +
          "Zero data movement: the branch's files hard-link into " +
          "main's storage.",
        tableParam :+ ProcedureParameter.in("branch", StringType)
          .comment("branch name previously created by create_branch")
          .build()) {
        override protected def run(input: InternalRow): Scan = {
          val qualified = input.getUTF8String(0).toString
          val ident = qualifiedIdent(qualified)
          val branch = input.getUTF8String(1).toString
          val (nf, nr) = cat.fastForward(ident, branch)
          val (_, t) = resolve(cat, qualified)
          summaryScan(Seq(
            "files_published" -> nf,
            "rows" -> nr,
            "main_version" -> t.stateNow.current
              .map(_.version.toLong).getOrElse(-1L)))
        }
      }
      // MULTI-TABLE ATOMIC PUBLISH (VERDICT r15 item 7): fast-forward
      // N tables' same-named branches to their mains as ONE
      // transaction — every table's new content becomes visible at a
      // single atomic instant (the txn marker create), and any
      // conflict anywhere aborts the whole set with nothing published.
      // The fact+dim consistent cut a warehouse publish needs.
      case "publish_tables" => new GraftProcedure("publish_tables",
        "atomically fast-forward several tables' branches to their " +
          "mains as one cross-table transaction: all become visible " +
          "at the same instant, or none do (any divergence/conflict " +
          "aborts the whole set)",
        Array(
          ProcedureParameter.in("tables", StringType)
            .comment("comma-separated namespace-qualified table names")
            .build(),
          ProcedureParameter.in("branch", StringType)
            .comment("branch name (created per table by create_branch)")
            .build())) {
        override protected def run(input: InternalRow): Scan = {
          val branch = input.getUTF8String(1).toString
          val specs = input.getUTF8String(0).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq.map { q =>
              (qualifiedIdent(q), branch)
            }
          val published = cat.publishTables(specs)
          summaryScan(
            published.map { case (n, nf, nr) =>
              n -> s"files=$nf rows=$nr" } :+
              ("tables_published" -> published.size.toString))
        }
      }
      case "rewrite_small_files" => new GraftProcedure(
        "rewrite_small_files",
        "bin-pack data files below min_bytes into ~min_bytes outputs " +
          "in one atomic selective-replace commit; files at or above " +
          "the threshold are untouched (maintenance cost ~ small-file " +
          "count, not table size). Layout-free tables only — " +
          "clustered tables compact through system.compact.",
        tableParam :+ ProcedureParameter.in("min_bytes", LongType)
          .defaultValue((32L * 1024 * 1024).toString)
          .comment("pack files smaller than this many bytes " +
            "(default 32 MiB)")
          .build()) {
        override protected def run(input: InternalRow): Scan = {
          val qualified = input.getUTF8String(0).toString
          val (_, t) = resolve(cat, qualified)
          val minBytes =
            if (input.isNullAt(1)) 32L * 1024 * 1024 else input.getLong(1)
          val (packed, created, rows) = t.rewriteSmallFiles(
            SparkSession.active, s"${cat.name()}.$qualified", minBytes)
          summaryScan(Seq(
            "files_packed" -> packed,
            "files_created" -> created,
            "rows_moved" -> rows,
            "files_after" -> t.currentFilePaths.size.toLong))
        }
      }
      // ANALYZE TABLE parity (Iceberg's compute_table_stats / every
      // RDBMS's ANALYZE): compute TABLE-LEVEL column NDVs in one
      // distributed pass and persist them as graft.stats.* properties
      // stamped with the current version. The scan's CBO column
      // statistics serve the analyzed numbers while that version stays
      // current — the summed per-file NDV is an UPPER bound (cross-file
      // overlap uncounted); post-analyze, join reordering sees the true
      // cardinality. Any commit invalidates the stamp (the scan falls
      // back to the bound) — stale stats are never silently served as
      // fresh. exact=default (oracle-replayable); approx=true runs
      // HLL++ (approx_count_distinct) for the 100-TB maintenance pass.
      case "analyze" => new GraftProcedure("analyze",
        "compute table-level column distinct counts and persist them " +
          "for CBO (graft.stats.*), stamped with the current version; " +
          "served until the next commit invalidates them",
        tableParam
          :+ ProcedureParameter.in("columns", StringType)
            .comment("comma-separated column names to analyze")
            .build()
          :+ ProcedureParameter.in("approx", BooleanType)
            .defaultValue("false")
            .comment("true = approx_count_distinct (HLL++); " +
              "false = exact")
            .build()
          :+ ProcedureParameter.in("buckets", IntegerType)
            .defaultValue("0")
            .comment("equi-height histogram bins per numeric column " +
              "(0 = NDVs only); served to CBO through DSv2 column " +
              "statistics so filter/join estimation sees skew")
            .build()
          :+ ProcedureParameter.in("mcv", IntegerType)
            .defaultValue("0")
            .comment("top-K most-common values per STRING analyzed " +
              "column (0 = none) — the skew statistic histograms " +
              "can't express for strings; consumed by the engine's " +
              "hot-key salted-join rewrite (graft.plans.SaltSkewJoin)")
            .build()) {
        override protected def run(input: InternalRow): Scan = {
          val qualified = input.getUTF8String(0).toString
          val (ident, t) = resolve(cat, qualified)
          val schema = t.schema()
          val cols = input.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq.map { c =>
              val o = GraftStorage.ordinalByName(
                schema.fieldNames.toIndexedSeq, c)
              require(o >= 0,
                s"analyze column $c not in ${schema.catalogString}")
              schema.fieldNames(o)
            }
          require(cols.nonEmpty, "analyze needs at least one column")
          val approx = !input.isNullAt(2) && input.getBoolean(2)
          val s = SparkSession.active
          import org.apache.spark.sql.functions.{approx_count_distinct, col, countDistinct}
          val aggs = cols.map { c =>
            (if (approx) approx_count_distinct(col(s"`$c`"))
             else countDistinct(col(s"`$c`"))).as(c)
          }
          // capture the version BEFORE the aggregation (ADVICE r14): a
          // commit landing during the scan must not get its version
          // stamped onto NDVs computed from the older snapshot — that
          // would serve stale stats as fresh, breaking analyzedNdv's
          // provenance contract. Re-check after: if the table advanced
          // mid-analyze, bail loudly rather than stamp either version.
          val preVer = t.stateNow.current.map(_.version).getOrElse(-1)
          val row = s.table(s"${cat.name()}.$qualified")
            .agg(aggs.head, aggs.tail: _*).collect()(0)
          val ver = t.stateNow.current.map(_.version).getOrElse(-1)
          if (ver != preVer)
            throw new IllegalStateException(
              s"analyze on $qualified: the table advanced from version " +
                s"$preVer to $ver while the distinct counts were being " +
                "computed — the stats' provenance is ambiguous; re-run " +
                "CALL system.analyze against the quiesced table")
          // EQUI-HEIGHT HISTOGRAMS (VERDICT r14 item 5): buckets > 0
          // additionally builds, per NUMERIC analyzed column, the
          // (lo, hi, ndv) bin list CBO's filter/join estimation
          // consumes — the statistic that distinguishes a skewed key
          // (one value = 90% of rows) from a uniform one with the same
          // NDV. Two passes per column: approx_percentile for the
          // equi-height endpoints, then per-bin distinct counts (a
          // degenerate repeated-endpoint bin holds exactly its one
          // value). Persisted next to the NDVs under the same version
          // stamp; served through DSv2 ColumnStatistics.histogram().
          val buckets =
            if (input.numFields > 3 && !input.isNullAt(3))
              input.getInt(3) else 0
          require(buckets >= 0 && buckets <= 254,
            s"analyze buckets must be in [0, 254], got $buckets")
          val numericCols =
            if (buckets == 0) Nil
            else cols.filter { c =>
              val o = GraftStorage.ordinalByName(
                schema.fieldNames.toIndexedSeq, c)
              schema.fields(o).dataType match {
                case _: org.apache.spark.sql.types.NumericType => true
                case _ => false
              }
            }
          val hists: Seq[(String, String)] = numericCols.flatMap { c =>
            val pcts = (0 to buckets).map(i =>
              i.toDouble / buckets).mkString(",")
            val r = s.table(s"${cat.name()}.$qualified").selectExpr(
              s"approx_percentile(CAST(`$c` AS DOUBLE), " +
                s"array($pcts), 10000) AS eps",
              s"count(`$c`) AS cnt").collect()(0)
            if (r.isNullAt(0) || r.getLong(1) == 0L) None
            else {
              val eps = r.getSeq[Double](0)
              val height = r.getLong(1).toDouble / buckets
              // bin of v = how many INTERIOR endpoints v exceeds
              // (clamped by construction: v <= eps(buckets))
              val binExpr =
                if (buckets == 1) "0"
                else (1 until buckets).map(i =>
                  s"(CASE WHEN CAST(`$c` AS DOUBLE) > ${eps(i)} " +
                    "THEN 1 ELSE 0 END)").mkString("(", " + ", ")")
              val perBin = s.table(s"${cat.name()}.$qualified")
                .where(s"`$c` IS NOT NULL")
                .selectExpr(s"$binExpr AS bin",
                  s"CAST(`$c` AS DOUBLE) AS v")
                .groupBy("bin")
                .agg(org.apache.spark.sql.functions
                  .countDistinct(org.apache.spark.sql.functions.col("v"))
                  .as("ndv"))
                .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
              val bins = (0 until buckets).map { i =>
                // a bin between equal endpoints holds exactly that one
                // value; an empty range still reports 1 (estimates
                // must never divide by zero)
                val ndv = math.max(1L, perBin.getOrElse(i, 0L))
                s"${eps(i)},${eps(i + 1)},$ndv"
              }.mkString(";")
              Some(c -> s"$height|$bins")
            }
          }
          // MOST-COMMON-VALUE lists (VERDICT r15 item 4): numeric
          // histograms can't describe STRING columns — the common
          // skewed join key in real schemas — so CBO (and the engine's
          // own salted-join rewrite) priced them by NDV uniformity.
          // Exact top-K per string column: one group-by count + a
          // not-null count for the frequency denominator. Values are
          // URL-encoded (a key may contain the encoding's own
          // separators); ties break on the value so the persisted list
          // is deterministic.
          val mcvK =
            if (input.numFields > 4 && !input.isNullAt(4))
              input.getInt(4) else 0
          require(mcvK >= 0 && mcvK <= 1000,
            s"analyze mcv must be in [0, 1000], got $mcvK")
          val stringCols =
            if (mcvK == 0) Nil
            else cols.filter { c =>
              val o = GraftStorage.ordinalByName(
                schema.fieldNames.toIndexedSeq, c)
              schema.fields(o).dataType == StringType
            }
          val mcvs: Seq[(String, String)] = stringCols.flatMap { c =>
            import org.apache.spark.sql.functions.{count => fcount, desc, lit}
            val top = s.table(s"${cat.name()}.$qualified")
              .where(s"`$c` IS NOT NULL")
              .groupBy(col(s"`$c`")).agg(fcount(lit(1)).as("cnt"))
              .orderBy(desc("cnt"), col(s"`$c`"))
              .limit(mcvK).collect()
            val total = s.table(s"${cat.name()}.$qualified")
              .where(s"`$c` IS NOT NULL").count()
            if (top.isEmpty) None
            else Some(c -> GraftMcv.encode(total,
              top.toSeq.map(r => r.getString(0) -> r.getLong(1))))
          }
          // the hist/mcv passes ran after the NDV drift check: re-check
          // so a commit landing during THEM can't stamp stale artifacts
          // as fresh either (same provenance contract, ADVICE r14)
          val ver2 = t.stateNow.current.map(_.version).getOrElse(-1)
          if (ver2 != preVer)
            throw new IllegalStateException(
              s"analyze on $qualified: the table advanced from version " +
                s"$preVer to $ver2 while histogram/MCV statistics were " +
                "being computed — re-run CALL system.analyze against " +
                "the quiesced table")
          import org.apache.spark.sql.connector.catalog.TableChange
          val changes: Seq[TableChange] =
            (cols.zipWithIndex.map { case (c, i) =>
              TableChange.setProperty(s"graft.stats.ndv.$c",
                row.getLong(i).toString): TableChange
            } ++ hists.map { case (c, enc) =>
              TableChange.setProperty(s"graft.stats.hist.$c", enc)
                : TableChange
            } ++ mcvs.map { case (c, enc) =>
              TableChange.setProperty(s"graft.stats.mcv.$c", enc)
                : TableChange
            } ++ cols.map(c =>
              // a full analyze resets the refresh machinery's running
              // unlisted-count bound (graft.stats.mcv_bound.*): a stale
              // bound from a previous refresh generation would poison
              // the next refresh's soundness check
              TableChange.removeProperty(s"graft.stats.mcv_bound.$c")
                : TableChange
            )) :+ TableChange.setProperty("graft.stats.version",
              ver.toString)
          cat.alterTable(ident, changes: _*)
          val out = StructType(Seq(
            StructField("column", StringType, nullable = false),
            StructField("ndv", LongType, nullable = false),
            StructField("analyzed_version", LongType, nullable = false)))
          val outRows = cols.zipWithIndex.map { case (c, i) =>
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(c), row.getLong(i), ver.toLong))
              : InternalRow
          }.toArray
          new GraftLocalScan(out, outRows,
            s"GraftAnalyzeResult(${cols.mkString(", ")})")
        }
      }
      // INCREMENTAL STATISTICS MAINTENANCE (VERDICT r16 item 4): the
      // version-gated stats discipline is honest but brittle at scale —
      // ANY commit kills the MCVs/histograms/NDVs, and the salted-join
      // shape (q277) silently reverts until a FULL re-analyze re-scans
      // the corpus. `refresh_stats` closes the gap with the change-feed
      // machinery (q268/q278): one bounded `$changes` read since the
      // analyzed version updates the persisted statistics at O(changed
      // rows) and re-stamps freshness. Per statistic:
      //   - MCV lists: EXACT delta maintenance — each listed value's
      //     count adds its feed net (+op0/-op2), the not-null total
      //     likewise. Soundness refusal: an UNLISTED value's true count
      //     is unknown (bounded by the old K-th count, since it missed
      //     the list); if old-Kth + its feed additions could reach the
      //     refreshed K-th, top-K membership is ambiguous and the call
      //     refuses loudly toward a full analyze — never a silently
      //     wrong hottest-value share.
      //   - NDVs: re-stamped as the sound UPPER bound old + distinct
      //     added values (over-estimation is the CBO-safe direction: a
      //     high NDV under-broadcasts, it never OOMs a broadcast).
      //   - Equi-height histograms CANNOT be mass-maintained (the bin
      //     endpoints are percentiles of the analyzed snapshot; repeated
      //     endpoints make per-bin re-assignment ill-defined) — instead
      //     each histogram's skew signal survives as a DERIVED numeric
      //     MCV: the degenerate-bin values' masses become exact-delta-
      //     maintained counts, and the stale histogram is REMOVED
      //     rather than served fresh.
      // At 100 TB: an append wave costs a slice-sized scan instead of a
      // corpus re-analyze, and the hot-key plan survives the commit.
      case "refresh_stats" => new GraftProcedure("refresh_stats",
        "update persisted column statistics from the change feed since " +
          "the analyzed version (O(changed rows)) and re-stamp " +
          "freshness; refuses loudly when the update cannot be proven " +
          "sound (re-run system.analyze)") {
        override protected def run(input: InternalRow): Scan = {
          val qualified = input.getUTF8String(0).toString
          val (ident, t) = resolve(cat, qualified)
          val props = t.properties()
          val statsVer = Option(props.get("graft.stats.version"))
            .flatMap(_.toIntOption).getOrElse(throw new IllegalStateException(
              s"refresh_stats on $qualified: no persisted statistics — " +
                "run CALL system.analyze first"))
          val cv = t.stateNow.current.map(_.version).getOrElse(-1)
          if (cv == statsVer)
            return summaryScan(Seq("from_version" -> statsVer.toLong,
              "to_version" -> cv.toLong, "mcv_refreshed" -> 0L,
              "ndv_refreshed" -> 0L, "hist_converted" -> 0L))
          require(cv > statsVer, s"refresh_stats on $qualified: current " +
            s"version $cv behind stats version $statsVer")
          val s = SparkSession.active
          import org.apache.spark.sql.functions.{coalesce, col, countDistinct, lit, max => fmax, sum => fsum, when}
          import scala.jdk.CollectionConverters._
          val parts = qualified.split('.')
          val feedName = (parts.init :+ s"`${parts.last}$$changes`")
            .mkString(".")
          // the bounded slice: every row the table changed since the
          // analyzed version, op 0 = insert, op 2 = delete (updates
          // stream as a 2/0 pair, so value-preserving rewrites net to
          // zero). Trimmed history refuses inside the feed read itself.
          val slice = s.read.option("from_version", statsVer.toString)
            .table(s"${cat.name()}.$feedName")
          val allProps = props.asScala.toMap
          def encodeMcv(total: Long, vs: Seq[(String, Long)]): String =
            GraftMcv.encode(total, vs.sortBy { case (v, c) => (-c, v) })
          /** Exact delta refresh of one (value -> count) list. `bound`
            * caps any unlisted value's pre-wave count — the analyze-time
            * K-th count on the first refresh, then the PERSISTED running
            * bound (graft.stats.mcv_bound.<c>): it must accumulate
            * across refreshes (unlisted additions never reset), while
            * min-of-current-list would over-tighten. The refusal fires
            * when an unlisted value could reach the refreshed top-K
            * floor. Returns (newTotal, refreshed list, newBound). */
          def refreshList(c: String, asString: Boolean, totalOld: Long,
              listed: Vector[(String, Long)], bound: Long)
              : (Long, Vector[(String, Long)], Long) = {
            val v0 =
              if (asString) col(s"`$c`").cast("string")
              else col(s"`$c`").cast("double").cast("string")
            val base = slice.where(col(s"`$c`").isNotNull).select(
              v0.as("v"),
              when(col("__op") === 0, 1L).otherwise(-1L).as("d"),
              when(col("__op") === 0, 1L).otherwise(0L).as("a"))
            val keys = listed.map(_._1)
            val deltas = base.where(col("v").isin(keys: _*))
              .groupBy("v")
              .agg(fsum(col("d")).as("d"), fsum(col("a")).as("a"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            val totalDelta = base.agg(coalesce(fsum(col("d")), lit(0L)))
              .head().getLong(0)
            val maxUnlistedAdd = base.where(!col("v").isin(keys: _*))
              .groupBy("v").agg(fsum(col("a")).as("a"))
              .agg(coalesce(fmax(col("a")), lit(0L))).head().getLong(0)
            val refreshed = listed.map { case (v, n) =>
              val nn = n + deltas.getOrElse(v, 0L)
              require(nn >= 0, s"refresh_stats on $qualified.$c: value " +
                s"'$v' count went negative ($n + ${deltas.getOrElse(v, 0L)})" +
                " — feed and stored statistics disagree; re-run " +
                "CALL system.analyze")
              (v, nn)
            }
            val newKth = refreshed.map(_._2).min
            val newBound = bound + maxUnlistedAdd
            if (newBound >= newKth)
              throw new IllegalStateException(
                s"refresh_stats on $qualified.$c: an unlisted value " +
                  s"(bounded by $bound pre-wave + $maxUnlistedAdd added)" +
                  s" could reach the refreshed top-K floor $newKth — " +
                  "top-K membership is ambiguous after this wave; " +
                  "re-run CALL system.analyze for a fresh list")
            (totalOld + totalDelta, refreshed, newBound)
          }
          val schema = t.schema()
          def inSchema(c: String): Boolean =
            GraftStorage.ordinalByName(schema.fieldNames.toIndexedSeq, c) >= 0
          def isString(c: String): Boolean =
            schema.fields(GraftStorage.ordinalByName(
              schema.fieldNames.toIndexedSeq, c)).dataType == StringType
          // --- MCV columns: exact refresh (a column dropped since the
          // analyze simply loses its statistic) -----------------------
          val mcvCols = allProps.collect {
            case (k, v) if k.startsWith("graft.stats.mcv.") &&
                inSchema(k.stripPrefix("graft.stats.mcv.")) =>
              k.stripPrefix("graft.stats.mcv.") -> v
          }
          val refreshedMcv = mcvCols.map { case (c, enc) =>
            val (totalOld, listed) = GraftMcv.decode(enc)
            // first refresh: the analyze-time K-th count bounds every
            // unlisted value (it missed the list); afterwards the
            // persisted running bound carries the accumulated slack
            val bound = allProps.get(s"graft.stats.mcv_bound.$c")
              .flatMap(_.toLongOption)
              .getOrElse(listed.map(_._2).min)
            val (tot, vs, nb) = refreshList(c, isString(c), totalOld,
              listed, bound)
            c -> (encodeMcv(tot, vs), nb)
          }
          // --- histogram columns: skew survives as derived numeric MCV ----
          val histCols = allProps.collect {
            case (k, v) if k.startsWith("graft.stats.hist.") &&
                inSchema(k.stripPrefix("graft.stats.hist.")) =>
              k.stripPrefix("graft.stats.hist.") -> v
          }
          val convertedHist = histCols.flatMap { case (c, enc) =>
            val Array(h, binsEnc) = enc.split('|')
            val height = h.toDouble
            val bins = binsEnc.split(';').map { b =>
              val Array(lo, hi, _) = b.split(',')
              (lo.toDouble, hi.toDouble)
            }
            // a value WITHOUT repeated percentile endpoints holds at
            // most ~2 bins of mass (it can straddle one endpoint): the
            // conservative pre-wave bound for any unlisted value. Only
            // degenerate values whose mass strictly EXCEEDS that bound
            // are provably top values — a borderline single-degenerate-
            // bin value is indistinguishable from the unlisted tail and
            // would trip the soundness refusal on every wave
            val unlistedBound = math.round(2.0 * height)
            val degen = bins.filter(b => b._1 == b._2).groupBy(_._1)
              .map { case (v, bs) =>
                (v.toString, math.round(height * bs.length)) }
              .toVector.filter(_._2 > unlistedBound)
            if (degen.isEmpty) None
            else {
              val totalOld = math.round(height * bins.length)
              val (tot, vs, nb) = refreshList(c, asString = false,
                totalOld, degen, unlistedBound)
              Some(c -> (encodeMcv(tot, vs), nb))
            }
          }
          // --- NDVs: sound upper bound ------------------------------------
          val ndvCols = allProps.collect {
            case (k, v) if k.startsWith("graft.stats.ndv.") &&
                v.toLongOption.isDefined &&
                inSchema(k.stripPrefix("graft.stats.ndv.")) =>
              k.stripPrefix("graft.stats.ndv.") -> v.toLong
          }.toSeq
          val refreshedNdv =
            if (ndvCols.isEmpty) Nil
            else {
              val aggs = ndvCols.map { case (c, _) =>
                countDistinct(col(s"`$c`")).as(c) }
              val row = slice.where(col("__op") === 0)
                .agg(aggs.head, aggs.tail: _*).collect()(0)
              ndvCols.zipWithIndex.map { case ((c, old), i) =>
                c -> (old + row.getLong(i)) }
            }
          // drift re-check (same provenance contract as analyze): a
          // commit landing during the refresh must not get cv stamped
          // onto statistics that exclude its changes
          val cv2 = t.stateNow.current.map(_.version).getOrElse(-1)
          if (cv2 != cv)
            throw new IllegalStateException(
              s"refresh_stats on $qualified: the table advanced from " +
                s"version $cv to $cv2 during the refresh — re-run " +
                "against the quiesced table")
          import org.apache.spark.sql.connector.catalog.TableChange
          val changes: Seq[TableChange] =
            (refreshedMcv.toSeq ++ convertedHist.toSeq).flatMap {
              case (c, (e, nb)) => Seq(
                TableChange.setProperty(s"graft.stats.mcv.$c", e)
                  : TableChange,
                TableChange.setProperty(s"graft.stats.mcv_bound.$c",
                  nb.toString): TableChange)
            } ++ histCols.keys.map(c =>
              TableChange.removeProperty(s"graft.stats.hist.$c")
                : TableChange
            ) ++ refreshedNdv.map { case (c, n) =>
              TableChange.setProperty(s"graft.stats.ndv.$c", n.toString)
                : TableChange
            } :+ TableChange.setProperty("graft.stats.version",
              cv.toString)
          cat.alterTable(ident, changes: _*)
          summaryScan(Seq("from_version" -> statsVer.toLong,
            "to_version" -> cv.toLong,
            "mcv_refreshed" -> refreshedMcv.size.toLong,
            "ndv_refreshed" -> refreshedNdv.size.toLong,
            "hist_converted" -> convertedHist.size.toLong))
        }
      }
      // ANN RE-TRAIN FOR QUANTIZER DRIFT (VERDICT r16 item 6): the IVF
      // contract freezes the coarse quantizer at build time — DML waves
      // move vectors BETWEEN frozen cells (q275/q281), which is exactly
      // right until the corpus's embedding space itself drifts (a
      // model-v2 re-encode, a new domain): vectors then land in cells
      // whose centroids describe nothing, probe recall decays, and
      // nothing in the feed loop ever fixes it. `reindex_ann` is the
      // corrective: re-seed the codebook FROM THE CURRENT CORPUS (the
      // ncells lowest-id current vectors — deterministic, so the
      // rebuild is oracle-replayable), re-assign every vector in ONE
      // corpus scan, recompute quantization codes if a codes table is
      // given, and land cells + assignments (+ codes) as ONE atomic
      // multi-table publish (the q279 marker flip): a searcher never
      // sees new assignments against old centroids or vice versa.
      // AnnRecallCurveSpec pins the drift story: a re-encode wave
      // degrades probe recall below threshold against the frozen
      // codebook, reindex restores it. At 100 TB this is the scheduled
      // maintenance pass — one corpus scan per re-train, against feed
      // waves that stay O(changed rows) between re-trains.
      case "reindex_ann" => new GraftProcedure("reindex_ann",
        "re-train the IVF coarse quantizer on the current corpus, " +
          "re-assign all vectors (and recompute quantization codes), " +
          "and atomically swap cells+index(+codes) via one multi-table " +
          "publish",
        tableParam
          :+ ProcedureParameter.in("cells", StringType)
            .comment("codebook table (cell_id, cb_emb)").build()
          :+ ProcedureParameter.in("index", StringType)
            .comment("assignment table (<id_col>, cell_id)").build()
          :+ ProcedureParameter.in("codes", StringType)
            .defaultValue("''")
            .comment("optional int8-SQ code table " +
              "(<id_col>, cell_id, amax, codes); '' = none").build()
          :+ ProcedureParameter.in("ncells", IntegerType)
            .defaultValue("16").comment("codebook size").build()
          :+ ProcedureParameter.in("id_col", StringType)
            .defaultValue("'vec_id'").build()
          :+ ProcedureParameter.in("emb_col", StringType)
            .defaultValue("'embedding'").build()) {
        override protected def run(input: InternalRow): Scan = {
          val corpus = input.getUTF8String(0).toString
          val cells = input.getUTF8String(1).toString
          val index = input.getUTF8String(2).toString
          val codes = Option(input.getUTF8String(3)).map(_.toString)
            .filter(_.nonEmpty)
          val ncells =
            if (input.isNullAt(4)) 16 else input.getInt(4)
          require(ncells >= 1 && ncells <= 4096,
            s"reindex_ann ncells must be in [1, 4096], got $ncells")
          val idCol =
            if (input.isNullAt(5)) "vec_id"
            else input.getUTF8String(5).toString
          val embCol =
            if (input.isNullAt(6)) "embedding"
            else input.getUTF8String(6).toString
          val (_, corpusT) = resolve(cat, corpus)
          val (_, cellsT) = resolve(cat, cells)
          val (_, indexT) = resolve(cat, index)
          require(cellsT.schema().fieldNames.toSeq ==
            Seq("cell_id", "cb_emb"),
            s"reindex_ann cells table $cells must have schema " +
              s"(cell_id, cb_emb), got " +
              cellsT.schema().fieldNames.mkString("(", ", ", ")"))
          require(indexT.schema().fieldNames.toSeq ==
            Seq(idCol, "cell_id"),
            s"reindex_ann index table $index must have schema " +
              s"($idCol, cell_id), got " +
              indexT.schema().fieldNames.mkString("(", ", ", ")"))
          codes.foreach { cq =>
            val (_, t) = resolve(cat, cq)
            require(t.schema().fieldNames.toSeq ==
              Seq(idCol, "cell_id", "amax", "codes"),
              s"reindex_ann codes table $cq must have schema " +
                s"($idCol, cell_id, amax, codes), got " +
                t.schema().fieldNames.mkString("(", ", ", ")"))
          }
          val s = SparkSession.active
          val cn = cat.name()
          val members = Seq(cells, index) ++ codes.toSeq
          val label = "reindex"
          // idempotence: a previous crashed re-train may have left its
          // working branches; they were never published, drop them
          members.foreach { m =>
            s.sql(s"DROP TABLE IF EXISTS $cn.${m}_branch_$label")
            s.sql(s"CALL $cn.system.create_branch('$m', '$label')")
          }
          val preVer = corpusT.stateNow.current
            .map(_.version).getOrElse(-1)
          try {
            s.sql(s"""
              INSERT OVERWRITE $cn.${cells}_branch_$label
              SELECT `$idCol` AS cell_id, `$embCol` AS cb_emb
              FROM (SELECT `$idCol`, `$embCol` FROM $cn.$corpus
                    ORDER BY `$idCol` LIMIT $ncells)""")
            s.sql(s"""
              INSERT OVERWRITE $cn.${index}_branch_$label
              SELECT v.`$idCol`,
                     max_by(c.cell_id, named_struct(
                       'cd', cosine_sim(v.`$embCol`, c.cb_emb),
                       'nc', -c.cell_id)) AS cell_id
              FROM $cn.$corpus v
              CROSS JOIN $cn.${cells}_branch_$label c
              GROUP BY v.`$idCol`""")
            codes.foreach { cq =>
              s.sql(s"""
                INSERT OVERWRITE $cn.${cq}_branch_$label
                SELECT `$idCol`, cell_id, amax,
                       transform(`$embCol`, x ->
                         CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax
                           + 0.5d) AS INT)) AS codes
                FROM (
                  SELECT v.`$idCol`, v.`$embCol`,
                         aggregate(v.`$embCol`, CAST(0.0 AS DOUBLE),
                           (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))
                           AS amax,
                         max_by(c.cell_id, named_struct(
                           'cd', cosine_sim(v.`$embCol`, c.cb_emb),
                           'nc', -c.cell_id)) AS cell_id
                  FROM $cn.$corpus v
                  CROSS JOIN $cn.${cells}_branch_$label c
                  GROUP BY v.`$idCol`, v.`$embCol`)""")
            }
            // same provenance discipline as analyze/refresh_stats: a
            // corpus commit landing during the rebuild means the new
            // index describes neither the old nor the new corpus
            val ver2 = corpusT.stateNow.current
              .map(_.version).getOrElse(-1)
            if (ver2 != preVer)
              throw new IllegalStateException(
                s"reindex_ann on $corpus: the corpus advanced from " +
                  s"version $preVer to $ver2 during the rebuild — " +
                  "re-run against the quiesced corpus")
            s.sql(s"CALL $cn.system.publish_tables(" +
              s"'${members.mkString(",")}', '$label')")
          } finally
            // published or not, the working branches are done: publish
            // fast-forwarded their content into the mains; an aborted
            // build must not leave half-written branches around
            members.foreach(m =>
              s.sql(s"DROP TABLE IF EXISTS $cn.${m}_branch_$label"))
          val indexed = s.sql(s"SELECT COUNT(*) FROM $cn.$index")
            .head().getLong(0)
          summaryScan(Seq(
            "ncells" -> ncells.toLong,
            "vectors_indexed" -> indexed,
            "tables_published" -> members.size.toLong,
            "corpus_version" -> preVer.toLong))
        }
      }
      // SHOW CREATE TABLE parity (Spark routes the SQL statement to the
      // session catalog only): reconstruct runnable DDL from the stored
      // schema, layout knobs, and generation metadata. The contract is
      // ROUND-TRIP: executing the emitted statement under a new name
      // creates a table with the same schema, partitioning, mode, and
      // tunables (ShowCreateSpec executes it and diffs).
      case "show_create" => new GraftProcedure("show_create",
        "emit runnable CREATE TABLE DDL reconstructing this table's " +
          "schema, generated columns, partitioning, and properties") {
        override protected def run(input: InternalRow): Scan = {
          val qualified = input.getUTF8String(0).toString
          val (_, t) = resolve(cat, qualified)
          val genKey = org.apache.spark.sql.graftshims.GraftShims
            .generationExpressionKey
          val cols = t.schema().fields.map { f =>
            val gen =
              if (f.metadata.contains(genKey))
                s" GENERATED ALWAYS AS (${f.metadata.getString(genKey)})"
              else ""
            val nn = if (f.nullable) "" else " NOT NULL"
            s"  `${f.name}` ${f.dataType.sql}$nn$gen"
          }.mkString(",\n")
          val props = t.properties()
          val partClause = Option(props.get("graft.partitioned_by"))
            .filter(_.nonEmpty)
            .map(p => s"\nPARTITIONED BY ($p)").getOrElse("")
          // CREATE-settable knobs only — the current_version/file-census
          // properties are state, not definition
          val settable = Seq("graft.mode", "graft.row_id", "graft.retain",
            "graft.append_retain", "graft.target_file_bytes",
            "graft.bucket_by", "graft.bloom_by", "graft.sort_by",
            "graft.zorder_by")
          val kv = settable.flatMap(k => Option(props.get(k))
            .filter(_.nonEmpty).map(v => s"'$k'='$v'"))
          val tbl = s"\nTBLPROPERTIES (${kv.mkString(", ")})"
          val ddl = s"CREATE TABLE ${cat.name()}.$qualified (\n$cols)" +
            partClause + tbl
          summaryScan(Seq("table" -> qualified, "ddl" -> ddl))
        }
      }
      case other => throw new UnsupportedOperationException(
        s"unknown procedure ${cat.name()}.system.$other " +
          "(available: analyze, clone, compact, create_branch, " +
          "create_view, drop_branch, drop_view, expire_snapshots, " +
          "fast_forward, history, publish_tables, " +
          "rewrite_small_files, rollback, show_create, show_views, " +
          "tag)")
    }
  }

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(Array("system"), "analyze"),
        Identifier.of(Array("system"), "clone"),
        Identifier.of(Array("system"), "compact"),
        Identifier.of(Array("system"), "create_branch"),
        Identifier.of(Array("system"), "create_view"),
        Identifier.of(Array("system"), "drop_branch"),
        Identifier.of(Array("system"), "drop_view"),
        Identifier.of(Array("system"), "expire_snapshots"),
        Identifier.of(Array("system"), "fast_forward"),
        Identifier.of(Array("system"), "history"),
        Identifier.of(Array("system"), "publish_tables"),
        Identifier.of(Array("system"), "rewrite_small_files"),
        Identifier.of(Array("system"), "rollback"),
        Identifier.of(Array("system"), "show_create"),
        Identifier.of(Array("system"), "show_views"),
        Identifier.of(Array("system"), "tag"))
    else Array.empty
}

/** The persisted most-common-value list `graft.stats.mcv.<column>`:
  * `total|v:c;v:c`, the not-null row count and then (value, count)
  * pairs, values URL-encoded (a key may contain the separators). */
object GraftMcv {
  /** Encode `values` in the order given. */
  def encode(total: Long, values: Seq[(String, Long)]): String =
    s"$total|" + values.map { case (v, c) =>
      java.net.URLEncoder.encode(v, "UTF-8") + ":" + c
    }.mkString(";")

  /** Decode an [[encode]]d list; throws on a malformed value. */
  def decode(enc: String): (Long, Vector[(String, Long)]) = {
    val Array(tot, listEnc) = enc.split('|')
    (tot.toLong, listEnc.split(';').toVector.map { e =>
      val i = e.lastIndexOf(':')
      (java.net.URLDecoder.decode(e.take(i), "UTF-8"), e.drop(i + 1).toLong)
    })
  }
}
