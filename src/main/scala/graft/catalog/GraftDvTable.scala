package graft.catalog

import java.nio.file.{Files, Path => NioPath, Paths}
import java.util
import java.util.UUID

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.util.Par

/** DELETION-VECTOR managed table (`graft.mode = 'dv'`) — the
  * position-delete half of the merge-on-read trade (Iceberg v3 deletion
  * vectors / Delta Lake DVs), for tables with NO natural row-id column:
  * [[GraftDeltaTable]] keys its delta log by a user column and needs
  * uniqueness; this table keys deletes by PHYSICAL POSITION —
  * `(_file, _pos)` metadata columns — which every table has for free.
  *
  * Row-level DML plans as `WriteDelta` ([[SupportsDelta]]) with
  * `rowId = (_file, _pos)` and updates REPRESENTED AS DELETE + INSERT
  * (positions are immutable; an "in-place" positional update is
  * meaningless). The write lands two kinds of files in one commit:
  * deletion-vector parquet files (`__file, __pos` — sorted, delta-sized)
  * and ordinary appended data files for the inserted rows (written
  * through [[GraftWriterFactory]], so partition splitting, stats,
  * blooms, and bucket ids all hold for DV-table inserts too). The read
  * side folds the vectors driver-side — O(deleted positions), bounded
  * by compaction cadence — and ships each base file exactly ITS deleted
  * positions; readers iterate the file in PHYSICAL order (no in-parquet
  * row skipping while a vector is live — ordinals must count every
  * stored row) and drop the marked ordinals. `system.compact` folds
  * vectors away exactly like the MOR delta log (the self-read applies
  * them, the truncate-replace clears them), restoring the full pushdown
  * scan path.
  *
  * Soundness notes, all loud-never-silent:
  *   - a DV commit validates its referenced base-file paths against the
  *     CURRENT snapshot inside the commit round — positions into a file
  *     a concurrent compaction rewrote would silently delete the wrong
  *     rows; the conflict errors and the statement retries;
  *   - per-file `rows` in refs count PHYSICAL rows, so manifest-served
  *     aggregates, LIMIT/TopN/OFFSET narrowing, and exact partition
  *     pushdown are all disabled while vectors are live
  *     ([[GraftScanBuilder]] refuses those seams whenever it carries
  *     deletes); stats file PRUNING stays on (deleted rows can only
  *     widen stats — over-keep is sound);
  *   - the `$partitions` census and the append-log stream already
  *     refuse tables with a live delta log — vectors ride the same
  *     `deltaFiles` ledger, so both refusals apply unchanged;
  *   - metadata-only DELETE stays enabled: "every PHYSICAL row of the
  *     file matches" implies every live row matches, and dropping a
  *     file orphans its vector entries harmlessly (path-keyed).
  *
  * At 100 TB: a DELETE touching k rows writes O(k) vector entries and
  * rewrites nothing; the read-side overhead is one driver fold of the
  * live vectors plus a per-row ordinal check, both delta-bounded. */
class GraftDvTable(ident: String, dir: NioPath,
    initState: GraftTableState, retain: Int,
    dvPartCols: Seq[String] = Nil, appendRetain: Int = 65536,
    dvSortCols: Seq[String] = Nil, dvZorderCols: Seq[String] = Nil,
    dvBucketBy: Option[(String, Int)] = None,
    dvBloomCols: Seq[String] = Nil, dvTargetBytes: Long = 0L,
    dvExtraProps: Map[String, String] = Map.empty)
    extends GraftTable(ident, dir, initState, retain, dvPartCols,
      appendRetain, dvSortCols, dvZorderCols, dvBucketBy,
      dvBloomCols, dvTargetBytes, dvExtraProps) {

  override protected def tableKind: String = "dv"

  private[graft] def deltaDir: String =
    dir.resolve("delta").toAbsolutePath.toString

  private[graft] def dvLogSize: Long =
    stateNow.current.map(_.deltaFiles.map(_.rows).sum).getOrElse(0L)

  /** BOUND ON THE DRIVER-SIDE VECTOR FOLD (VERDICT r14 item 3):
    * `graft.dv.max_live_positions` caps the tombstones a scan will
    * fold. The fold is O(live positions) driver memory and plan time —
    * the documented scale bound of this design — and an unbounded
    * tombstone pile-up would degrade every scan quietly. Above the cap
    * the scan refuses LOUDLY with a compact-first error (the same
    * discipline as every other guard here); `system.compact` itself is
    * exempt (it is the cure, and must be able to read the oversized
    * table). 0 / absent = unbounded. */
  private def foldBound: Long =
    dvExtraProps.get("graft.dv.max_live_positions") match {
      case Some(v) =>
        val n = v.trim.toLongOption.getOrElse(-1L)
        require(n >= 0,
          s"graft.dv.max_live_positions must be a non-negative long, " +
            s"got '$v'")
        n
      case None => 0L
    }

  // set around the compaction self-read so the cure can read the
  // disease; same single-writer instance-field pattern as
  // replaceAllGuard (both live on the driver's planning path)
  @volatile private var maintenanceRead = false

  override private[graft] def compact(
      spark: org.apache.spark.sql.SparkSession, fqn: String): Unit = {
    maintenanceRead = true
    try super.compact(spark, fqn)
    finally maintenanceRead = false
  }

  private def guardFoldBound(delta: Vector[GraftFileRef]): Unit = {
    val cap = foldBound
    if (cap > 0 && !maintenanceRead) {
      val live = delta.map(_.rows).sum
      if (live > cap) throw new IllegalStateException(
        s"deletion-vector fold bound exceeded on $ident: $live live " +
          s"tombstoned positions > graft.dv.max_live_positions=$cap — " +
          "CALL system.compact to fold the vectors into the base, " +
          "then retry")
    }
  }

  override def metadataColumns(): Array[MetadataColumn] =
    GraftDvTable.metadataColumns()

  // The append log streams BASE file arrivals; a position delete does
  // not retract streamed rows, so (like MOR) streaming reads are a
  // loud capability error rather than a silently divergent history.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  // a dynamic overwrite swaps whole partitions of base files; entries
  // of a live vector pointing into the KEPT partitions stay valid
  // (path-keyed), but entries into the swapped ones would dangle while
  // the overwrite's content was computed WITHOUT them only if the
  // write read this table — which dynamic overwrite never does. Safe;
  // no extra gate needed (unlike MOR's id-keyed log, positions are
  // per-file and die with their file).

  /** DV delta-file schema: one (file, position) tombstone per row. */
  private def dvSchema: StructType = GraftDvTable.DvSchema

  /** Every retained base-file ref by path — what a change-ledger
    * vector entry resolves its positions against. Sources: retained
    * snapshots plus the append log (a compaction may have replaced the
    * file in the CURRENT snapshot while the ledger still references
    * it). Last write wins (refs for one path are content-identical). */
  private[catalog] def baseRefByPath: Map[String, GraftFileRef] = {
    val st = stateNow
    (st.appendLog ++ st.snapshots.flatMap(_.files))
      .map(f => f.path -> f).toMap
  }

  /** GC keep-set addition: base files that retained change-ledger
    * vectors resolve against must outlive their snapshots, or the feed
    * window silently narrows. O(retained tombstones), explicit-GC-only
    * cost. (Equality-delete entries resolve against RETAINED-snapshot
    * file lists, which GC already keeps whole.) */
  override protected def gcExtraLive(st: GraftTableState): Set[String] = {
    val vecs = st.changeLog.filter(GraftDvTable.isVectorRef)
    if (vecs.isEmpty) Set.empty
    else GraftDvTable.foldVectors(vecs).keySet
  }

  /** The base-file list of the retained snapshot at `ver` — what an
    * equality-delete ledger entry's fence indexes into. */
  private[catalog] def snapshotFilesAt(ver: Int): Option[Vector[GraftFileRef]] =
    stateNow.snapshots.find(_.version == ver).map(_.files)

  /** The vectors and equality deletes of `delta`, folded. A compacted
    * DV table has none and scans exactly like CoW: full pushdown, SPJ,
    * runtime filtering, manifest aggregates — except a query requesting
    * `_pos` builds the positional scan with empty deletes. Live reads
    * and DML scans are bounded by `graft.dv.max_live_positions`. */
  override protected def readDeletes(schema: StructType,
      files: Vector[GraftFileRef], delta: Vector[GraftFileRef],
      live: Boolean): Option[GraftDeletes] = {
    if (live) guardFoldBound(delta)
    if (delta.isEmpty) None
    else {
      val (eqs, vecs) = delta.partition(GraftDvTable.isEqRef)
      Some(new GraftDeletes(schema, GraftDvTable.foldVectors(vecs),
        GraftDvTable.foldEqMerged(eqs, schema), files))
    }
  }

  override private[catalog] def alterAddColumn(f: StructField): Unit = {
    require(!Seq("_pos", "__file", "__pos").exists(_.equalsIgnoreCase(f.name)),
      s"column name ${f.name} is reserved on deletion-vector tables")
    super.alterAddColumn(f)
  }
  override protected def evolutionReservedNames: Seq[String] =
    super.evolutionReservedNames ++ Seq("_pos", "__file", "__pos")

  // key columns referenced by LIVE equality-delete entries are
  // rename/drop-protected until compaction folds the entries away —
  // the fold binds them by name, and a rename would turn every scan
  // into a loud-but-baffling "key column not in schema" error
  override protected def evolutionProtected: Seq[String] =
    super.evolutionProtected ++
      stateNow.current.map(_.deltaFiles).getOrElse(Vector.empty)
        .filter(GraftDvTable.isEqRef).flatMap(_.cols).distinct

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new SupportsDelta {
      // snapshot version the operation's scan planned against — the
      // commit round uses it to detect row-level commits that landed
      // in between (ADVICE r14: concurrent-overlap validation)
      @volatile private var scanVersion: Int = -1
      override def command(): RowLevelOperation.Command = info.command()
      override def rowId(): Array[NamedReference] =
        Array(Expressions.column("_file"), Expressions.column("_pos"))
      override def requiredMetadataAttributes(): Array[NamedReference] =
        Array(Expressions.column("_file"), Expressions.column("_pos"))
      // positions are immutable: an UPDATE is a positional delete plus
      // a fresh insert (which lands in a NEW file with new positions)
      override def representUpdateAsDeleteAndInsert(): Boolean = true
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
        refreshFromDisk()
        val st = stateNow
        scanVersion = st.current.map(_.version).getOrElse(-1)
        // the DML scan folds the vectors too — same bound, same cure —
        // and is ALWAYS positional (even with no live vectors): the
        // rewrite needs _pos. Equality deletes apply here too — a
        // positional rewrite must never resurrect an upsert-superseded
        // row.
        readScan(st.schema, st.current.map(_.files).getOrElse(Vector.empty),
          st.current.map(_.deltaFiles).getOrElse(Vector.empty), options,
          live = true, positional = true)
      }
      override def newWriteBuilder(winfo: LogicalWriteInfo): DeltaWriteBuilder =
        new DeltaWriteBuilder {
          override def build(): DeltaWrite = new DeltaWrite {
            override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
              override def createBatchWriterFactory(
                  pinfo: PhysicalWriteInfo): DeltaWriterFactory =
                new GraftDvWriterFactory(deltaDir, dataDir, schema(),
                  dvSchema, partWriterSpec, bucketWriterSpec,
                  bloomColumns,
                  compiledGeneratedCols(
                    org.apache.spark.sql.SparkSession.active))
              override def commit(messages: Array[WriterCommitMessage]): Unit = {
                val ms = messages.toSeq.collect {
                  case m: GraftDvCommitMsg => m
                }
                commitDvDelta(ms.flatMap(_.dvFiles), ms.flatMap(_.dataFiles),
                  ms.flatMap(_.refPaths).toSet, scanVersion)
              }
              override def abort(messages: Array[WriterCommitMessage]): Unit =
                messages.foreach {
                  case GraftDvCommitMsg(dv, data, _) =>
                    (dv ++ data).foreach(ref =>
                      Files.deleteIfExists(Paths.get(ref.path)): Unit)
                  case _ => ()
                }
            }
          }
        }
      override def description(): String =
        s"GraftDvRowLevelOperation(${info.command()}, deletion vectors)"
    }

  /** (bucket ordinal, n) for the insert-side writer factory. */
  private def bucketWriterSpec: (Int, Int) = bucketSpec match {
    case Some((c, n)) =>
      (GraftStorage.ordinalByName(schema().fieldNames.toIndexedSeq, c), n)
    case None => (-1, 0)
  }

  // ---- equality-delete upsert path (VERDICT r14 item 7) ----------------

  private def eqLive: Boolean =
    stateNow.current.exists(_.deltaFiles.exists(GraftDvTable.isEqRef))

  // EQUALITY-DELETE FENCES BIND BY FILE INDEX (count of base files at
  // commit): any operation that REMOVES base files while eq entries
  // live would shift indices and re-aim the fences — refused loudly,
  // compact first. Positional vectors are path-keyed and unaffected;
  // full compaction clears everything and is always the cure.
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    !eqLive && super.canDeleteWhere(predicates)
  override protected def validateDynamicOverwrite(): Unit =
    require(!eqLive,
      "dynamic partition overwrite on a deletion-vector table with " +
        "live equality-delete entries would shift the index-bound " +
        "fences — CALL system.compact first")

  /** UPSERT write mode: `option("graft.upsert_keys", "k1[,k2]")` on an
    * append (batch `writeTo(...).append()` or `writeStream.toTable`)
    * turns every written row into key-delete-then-insert WITHOUT a
    * position scan (Iceberg v2 equality-delete semantics, the Flink-
    * CDC-into-Iceberg upsert shape): each task writes its data files
    * normally plus one `eq-` file of the DISTINCT key tuples it wrote;
    * [[GraftTable.commitEqDelta]] fences them at the pre-commit base
    * count so a batch never deletes its own inserts. Key columns must
    * be long/int/string (the row-id discipline); null keys reject at
    * write. Write cost is O(batch) — the id-less streaming-upsert
    * contract this table kind existed for. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    Option(info.options.get("graft.upsert_keys")) match {
      case None => super.newWriteBuilder(info)
      case Some(spec) =>
        val names = schema().fieldNames.toIndexedSeq
        val keyCols = spec.split(',').map(_.trim).filter(_.nonEmpty)
          .toVector.map { c =>
            val o = GraftStorage.ordinalByName(names, c)
            require(o >= 0,
              s"graft.upsert_keys column $c not in ${schema().catalogString}")
            GraftDeltaTable.requireIdType(schema().fields(o).dataType, c)
            names(o)
          }
        require(keyCols.nonEmpty, "graft.upsert_keys must name at " +
          "least one column")
        require(keyCols.distinct.size == keyCols.size,
          s"graft.upsert_keys lists a column twice: $spec")
        new GraftDvUpsertWriteBuilder(this, info.schema(), info.queryId(),
          keyCols)
    }

  private[catalog] def upsertWriterFactory(incoming: StructType,
      keyCols: Vector[String]): GraftDvUpsertWriterFactory = {
    val inNames = incoming.fieldNames.toIndexedSeq
    val keyOrds = keyCols.map { c =>
      val o = GraftStorage.ordinalByName(inNames, c)
      require(o >= 0,
        s"graft.upsert_keys column $c missing from the written " +
          s"columns ${incoming.fieldNames.mkString(", ")}")
      o
    }.toArray
    new GraftDvUpsertWriterFactory(dataDir, deltaDir, incoming, schema(),
      keyOrds, keyCols, partWriterSpec, bucketWriterSpec, bloomColumns,
      compiledGeneratedCols(org.apache.spark.sql.SparkSession.active))
  }
}

object GraftDvTable {
  private[catalog] val DvSchema: StructType = StructType(Seq(
    StructField("__file", StringType, nullable = false),
    StructField("__pos", LongType, nullable = false)))

  /** The metadata columns of a DV table and of its snapshot views.
    * `_pos` joins `_file`; BOTH are non-nullable here because they form
    * the row id of the delta write (Spark's row-level rewrite rejects
    * nullable row-id attributes). */
  private[catalog] def metadataColumns(): Array[MetadataColumn] =
    Array(
      new MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "path of the data file this row was read from"
      },
      new MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "physical position of this row within its data file"
      })

  /** Is this change-ledger entry a deletion-vector file (vs an
    * inserted data file)? Decided by its RECORDED column list — the
    * marker names are reserved on DV tables, so no data file can
    * collide. */
  private[catalog] def isVectorRef(f: GraftFileRef): Boolean =
    f.cols == Vector("__file", "__pos")

  /** Ledger tag for a DATA file whose ENTIRE content was removed by a
    * metadata-level operation (stats-decidable DELETE drops whole
    * files without writing vectors — round-16 review find: those
    * deletes were invisible to the feed). Carried in the otherwise
    * unused `fence` field of a data ledger entry; the feed resolves
    * it as whole-file delete-rows, cost O(deleted rows). */
  private[catalog] val WholeFileDeleteTag = -2
  private[catalog] def isWholeDeleteRef(f: GraftFileRef): Boolean =
    f.fence == WholeFileDeleteTag && !isVectorRef(f) && !isEqRef(f)

  /** Is this delta/ledger entry an EQUALITY-DELETE file (the upsert
    * write path)? Marked by filename — an eq file's columns are real
    * table key columns, so the column list can't distinguish it. */
  private[catalog] def isEqRef(f: GraftFileRef): Boolean = {
    val slash = f.path.lastIndexOf('/')
    f.path.startsWith("eq-", slash + 1)
  }

  /** One equality-delete entry, folded: kill every row whose `keyCols`
    * tuple is in `keys`, in base files BELOW `fence` (files that
    * existed when the upsert committed — later files, including the
    * upsert's own inserts, are exempt; a negative fence, an unfenced
    * legacy ref, covers every file). Upserts and the merge-on-read fold
    * ([[GraftDeltaTable.foldDelta]]) both produce them. Key values are
    * canonical JVM values ([[GraftDeltaTable.idValue]]); multi-column
    * keys fold as `Vector[AnyRef]`. `keys` coming out of the fold memo is an
    * UNMODIFIABLE view (ADVICE r17): the memoized sets are shared by
    * reference across every fold, so accidental mutation must throw
    * instead of corrupting every later fold of the file. */
  private[catalog] final case class EqDeletes(fence: Int,
      keyCols: Vector[String], keys: java.util.Set[AnyRef])

  /** Driver-side per-file fold memo (round-17 optimization, guide §1/§5):
    * delta/DV/eq files are IMMUTABLE once committed (UUID-named data
    * dirs and file names, never rewritten in place), so the parse of one
    * file is a pure function of its identity `(path, rows, bytes)`.
    * Before the memo, EVERY table resolution re-opened and re-read the
    * same small parquet files on the driver — a profiled q275 cycle
    * paid 922 driver-side parquet opens ≈ 7.4 s of its 12.5 s wall.
    * The memo collapses that to one read per distinct file per JVM.
    * Bounded BY BYTES with per-entry LRU eviction ([[ByteLruCache]],
    * round-18 fix: the round-17 count cap cleared wholesale at 4096
    * entries — thrash exactly when delta pressure was highest, and no
    * actual memory bound). Cached values are immutable — the eq sets
    * are unmodifiable views, and every merge path COPIES before
    * adding. This caches table METADATA (deletion vectors / delta
    * ops), never query results: a new commit writes new files under
    * new names and misses the cache by construction. */
  private val vecFoldCache =
    new ByteLruCache[(String, Long, Long), Map[String, Array[Long]]](
      ByteLruCache.budgetBytes _,
      m => m.iterator.map { case (p, a) =>
        64L + 2L * p.length + 8L * a.length }.sum)
  private val eqFoldCache =
    new ByteLruCache[(String, Long, Long, String), java.util.Set[AnyRef]](
      ByteLruCache.budgetBytes _,
      s => {
        var w = 64L
        s.forEach(k => w += 16L + ByteLruCache.idWeight(k))
        w
      })

  /** Eagerly drop memo entries for files physically deleted by the
    * orphan sweep; keyed-by-path so retired files stop pinning heap
    * before LRU aging would get to them. */
  private[catalog] def invalidateFoldCache(paths: Set[String]): Unit = {
    vecFoldCache.invalidateIf(k => paths.contains(k._1))
    eqFoldCache.invalidateIf(k => paths.contains(k._1))
  }

  /** [[foldEq]] plus a merge of same-(fence, key-columns) groups —
    * the per-task eq files of one commit collapse to ONE set; the scan
    * then merges each base file's applicable fences per key shape
    * ([[narrowKeys]]), so the read-side per-row cost is O(distinct
    * probe shapes), not O(task files or epochs). Merged groups build a
    * FRESH set (the singletons hand out the memoized set, which must
    * stay immutable). */
  private[catalog] def foldEqMerged(eq: Vector[GraftFileRef],
      tableSchema: StructType): Vector[EqDeletes] =
    foldEq(eq, tableSchema)
      .groupBy(e => (e.fence, e.keyCols)).values.map { g =>
        if (g.size == 1) g.head
        else {
          val keys = new java.util.HashSet[AnyRef](g.head.keys)
          g.tail.foreach(x => keys.addAll(x.keys): Unit)
          EqDeletes(g.head.fence, g.head.keyCols, keys)
        }
      }.toVector.sortBy(_.fence)

  /** Driver-side fold of the equality-delete files — O(upserted keys),
    * bounded by compaction cadence, the eq sibling of [[foldVectors]]. */
  private[catalog] def foldEq(eq: Vector[GraftFileRef],
      tableSchema: StructType): Vector[EqDeletes] =
    Par.map(eq) { f =>
      val names = tableSchema.fieldNames.toIndexedSeq
      val fields = f.cols.map { c =>
        val o = GraftStorage.ordinalByName(names, c)
        require(o >= 0,
          s"equality-delete key column $c not in " +
            tableSchema.catalogString)
        tableSchema.fields(o)
      }
      val ks = StructType(fields.map(_.copy(nullable = false)))
      // key signature in the memo key: an ALTER COLUMN TYPE widen
      // changes the JVM value type the same bytes decode to, and a
      // DROP + re-ADD changes the field id the file binds against
      val typeSig = fields.map(f =>
        s"${f.dataType.catalogString}:" +
          GraftStorage.fieldId(f).getOrElse(-1)).mkString(",")
      val set = eqFoldCache.getOrCompute(
        (f.path, f.rows, f.bytes, typeSig)) {
          val s = new java.util.HashSet[AnyRef]()
          val it = new GraftStorage.FileIterator(f.path, f.cols, ks, f.rows,
            fileColIds = f.colIds)
          try it.foreach { r =>
            val v: AnyRef =
              if (f.cols.size == 1)
                GraftDeltaTable.idValue(r, 0, fields(0).dataType)
              else Vector.tabulate(f.cols.size)(i =>
                GraftDeltaTable.idValue(r, i, fields(i).dataType))
            s.add(v): Unit
          } finally it.close()
          // shared by reference across every later fold: mutation must
          // throw, not corrupt (ADVICE r17)
          java.util.Collections.unmodifiableSet(s)
        }
      EqDeletes(f.fence, f.cols, set)
    }

  /** The ONE key set a base file probes for the groups `es` (all on
    * the same key columns): single-column keys outside the file's
    * recorded min/max can't match — ship only the keys the file could
    * contain. Multi-column keys and stat-less files ship every key; a
    * lone group ships its (shared, immutable) set uncopied. */
  private[catalog] def narrowKeys(f: GraftFileRef,
      tableSchema: StructType, es: Seq[EqDeletes]): java.util.Set[AnyRef] = {
    def all: java.util.Set[AnyRef] =
      if (es.size == 1) es.head.keys
      else {
        val u = new java.util.HashSet[AnyRef]()
        es.foreach(e => u.addAll(e.keys): Unit)
        u
      }
    val keyCols = es.head.keyCols
    if (keyCols.size != 1) return all
    val names = tableSchema.fieldNames.toIndexedSeq
    val o = GraftStorage.ordinalByName(names, keyCols.head)
    if (o < 0) return all
    val fld = tableSchema.fields(o)
    val fo = GraftStorage.refOrdinal(f, fld)
    if (fo < 0) return new java.util.HashSet[AnyRef]() // col absent: null
    f.stats.get(f.cols(fo)) match {
      case Some(st) if st.min.isDefined && st.max.isDefined =>
        try {
          val lo = GraftStorage.statFromString(fld.dataType, st.min.get)
          val hi = GraftStorage.statFromString(fld.dataType, st.max.get)
          def cmpVal(v: AnyRef): Any = fld.dataType match {
            case org.apache.spark.sql.types.StringType =>
              UTF8String.fromString(v.asInstanceOf[String])
            case _ => v
          }
          val out = new java.util.HashSet[AnyRef]()
          es.foreach(_.keys.forEach { k =>
            val c = cmpVal(k)
            if (GraftStorage.typedCompare(fld.dataType, c, lo) >= 0 &&
                GraftStorage.typedCompare(fld.dataType, c, hi) <= 0)
              out.add(k): Unit
          })
          out
        } catch { case _: Exception => all }
      case _ => all
    }
  }

  /** Driver-side fold of the live vectors: path -> SORTED DISTINCT
    * deleted positions. O(deleted positions), bounded by compaction
    * cadence — the positional sibling of [[foldEq]]. */
  private[catalog] def foldVectors(
      delta: Vector[GraftFileRef]): Map[String, Array[Long]] = {
    if (delta.isEmpty) return Map.empty
    // per-file fold from the memo (one parquet read per distinct file
    // per JVM — see the memo comment above)
    // parallel first-parse: after a DML wave every file is a memo miss;
    // the parses are independent (Par), results merge in order below
    val perFile: Vector[Map[String, Array[Long]]] = Par.map(delta) { f =>
      vecFoldCache.getOrCompute((f.path, f.rows, f.bytes)) {
        val m = new java.util.HashMap[String, java.util.TreeSet[java.lang.Long]]()
        val it = new GraftStorage.FileIterator(f.path, f.cols, DvSchema,
          f.rows, fileColIds = f.colIds)
        try it.foreach { r =>
          val path = r.getUTF8String(0).toString
          m.computeIfAbsent(path, _ => new java.util.TreeSet[java.lang.Long]())
            .add(r.getLong(1)): Unit
        } finally it.close()
        val b = Map.newBuilder[String, Array[Long]]
        m.forEach { (p, s) =>
          val a = new Array[Long](s.size())
          val si = s.iterator()
          var i = 0
          while (si.hasNext) { a(i) = si.next(); i += 1 }
          b += (p -> a)
        }
        b.result()
      }
    }
    if (perFile.size == 1) perFile.head
    else {
      // multi-file merge: sorted-distinct union per base path (the
      // memoized per-file arrays are already sorted distinct)
      val m = new java.util.HashMap[String, java.util.TreeSet[java.lang.Long]]()
      perFile.foreach(_.foreach { case (p, a) =>
        val s = m.computeIfAbsent(p, _ => new java.util.TreeSet[java.lang.Long]())
        var i = 0
        while (i < a.length) { s.add(a(i)): Unit; i += 1 }
      })
      val b = Map.newBuilder[String, Array[Long]]
      m.forEach { (p, s) =>
        val a = new Array[Long](s.size())
        val si = s.iterator()
        var i = 0
        while (si.hasNext) { a(i) = si.next(); i += 1 }
        b += (p -> a)
      }
      b.result()
    }
  }
}

object GraftDvChangeFeed {
  /** Map a change-ledger slice to input partitions: a vector entry
    * becomes per-touched-row-group delete partitions (positions
    * resolved against the retained base refs), an EQUALITY-delete
    * entry becomes per-under-fence-base-file key-probe partitions
    * (each emits its matching rows as op-2 delete-rows — a key
    * upserted twice may re-surface an already-dead row as a duplicate
    * delete op, which a key-collapsed MERGE apply absorbs), and a
    * data entry becomes one op-0 insert partition. */
  private[catalog] def partitions(slice: Vector[GraftFileRef],
      table: GraftDvTable): Array[InputPartition] = {
    lazy val refs = table.baseRefByPath
    lazy val tableSchema = table.schema()
    // COALESCE the per-task files of one commit before resolving: a
    // 16-task DELETE lands 16 vector files sharing one __ver, and
    // resolving them separately would fan out into 16 × touched-files
    // near-empty partitions (measured 3 s of pure task overhead on a
    // 60 k-row feed read); folded together they cost one partition per
    // touched row-group run, same rows, same __ver.
    val coalesced = Vector.newBuilder[Vector[GraftFileRef]]
    var i = 0
    while (i < slice.length) {
      val e = slice(i)
      val sameKind: GraftFileRef => Boolean =
        if (GraftDvTable.isVectorRef(e)) GraftDvTable.isVectorRef
        else if (GraftDvTable.isEqRef(e))
          f => GraftDvTable.isEqRef(f) && f.fence == e.fence &&
            f.cols == e.cols
        else _ => false // data files stay one partition each
      val j0 = i
      i += 1
      while (i < slice.length && slice(i).ver == e.ver &&
          sameKind(slice(i))) i += 1
      coalesced += slice.slice(j0, i)
    }
    coalesced.result().flatMap { group =>
      val entry = group.head
      if (GraftDvTable.isEqRef(entry)) {
        // the files the fence covered live in the snapshot AT the
        // entry's commit version — retention must still hold it
        val snapFiles = table.snapshotFilesAt(entry.ver)
          .getOrElse(throw new IllegalStateException(
            s"change entry (version ${entry.ver}) predates the " +
              "retained snapshot window — the feed cannot resolve its " +
              "equality deletes; reseed from a snapshot"))
        // the group shares one (fence, key columns): one merged entry
        val merged = GraftDvTable.foldEqMerged(group, tableSchema).head
        snapFiles.take(entry.fence).flatMap { f =>
          val keys = GraftDvTable.narrowKeys(f, tableSchema, Seq(merged))
          if (keys.isEmpty) None
          else Some(GraftDvChangeEqDeletePartition(f.path, f.cols,
            f.rows, f.colIds, merged.keyCols, keys, entry.ver)
            : InputPartition)
        }
      }
      else if (GraftDvTable.isWholeDeleteRef(entry))
        // a metadata-level DELETE dropped this whole file: every row
        // streams as a delete-row (op = 2) at the commit's version
        Seq(GraftDvChangeInsertPartition(entry.path, entry.cols,
          entry.rows, entry.colIds, entry.ver, op = 2): InputPartition)
      else if (!GraftDvTable.isVectorRef(entry))
        Seq(GraftDvChangeInsertPartition(entry.path, entry.cols,
          entry.rows, entry.colIds, entry.ver): InputPartition)
      else
        GraftDvTable.foldVectors(group).toSeq.sortBy(_._1)
          .flatMap { case (path, dels) =>
            val f = refs.getOrElse(path, throw new IllegalStateException(
              s"change entry (version ${entry.ver}) references base " +
                s"file $path outside the retention window — the feed " +
                "cannot materialize its delete-rows; reseed from a " +
                "snapshot"))
            if (f.groups.isEmpty || f.bytes <= 0)
              Seq(GraftDvChangeDeletePartition(f.path, f.cols, f.rows,
                f.colIds, dels, 0L, Long.MaxValue, 0L, entry.ver)
                : InputPartition)
            else {
              // read only the row groups containing tombstoned
              // ordinals: a 10-row DELETE against a 10 GB base costs
              // O(touched groups) at feed-read time, never a file scan
              var cum = 0L
              val out = Vector.newBuilder[InputPartition]
              var gi = 0
              while (gi < f.groups.size) {
                val g = f.groups(gi)
                val lo = cum
                val hi = cum + g.rows
                val sub = dels.filter(p => p >= lo && p < hi)
                if (sub.nonEmpty) {
                  val end =
                    if (gi == f.groups.size - 1) Long.MaxValue
                    else f.groups(gi + 1).start
                  out += GraftDvChangeDeletePartition(f.path, f.cols,
                    g.rows, f.colIds, sub, g.start, end, lo, entry.ver)
                }
                cum = hi
                gi += 1
              }
              out.result()
            }
          }
    }.toArray
  }
}

case class GraftDvChangeInsertPartition(path: String,
    cols: Vector[String], rows: Long, colIds: Vector[Int], ver: Int,
    // whole-file op marker: 0 everywhere except the CoW DML feed's
    // removed-file partitions, whose rows stream as __op = 2
    op: Int = 0)
    extends InputPartition
case class GraftDvChangeDeletePartition(path: String,
    cols: Vector[String], rows: Long, colIds: Vector[Int],
    dels: Array[Long], rangeStart: Long, rangeEnd: Long, posBase: Long,
    ver: Int) extends InputPartition
case class GraftDvChangeEqDeletePartition(path: String,
    cols: Vector[String], rows: Long, colIds: Vector[Int],
    keyCols: Vector[String], keys: java.util.Set[AnyRef], ver: Int)
    extends InputPartition

/** Feed readers: insert partitions stream their data file with
  * `__op = 0` bound as a partition constant; delete partitions stream
  * their base-file row-group range in PHYSICAL order, keep exactly the
  * tombstoned ordinals, and bind `__op = 2`. Both bind `__ver` from
  * the ledger entry. */
class GraftDvChangeFeedReaderFactory(feedSchema: StructType,
    requiredSchema: StructType) extends PartitionReaderFactory {

  private val dataSchema = StructType(feedSchema.fields
    .filterNot(f => f.name == "__op" || f.name == "__ver"))
  private val dataRequired = StructType(requiredSchema.fields
    .filterNot(f => f.name == "__op" || f.name == "__ver"))
  private val fileSchema: StructType =
    GraftStorage.projectionSchema(dataSchema, dataRequired, Array.empty,
      Set.empty)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case ins: GraftDvChangeInsertPartition =>
        val it = new GraftStorage.FileIterator(ins.path, ins.cols,
          fileSchema, ins.rows, fileColIds = ins.colIds)
        new GraftRowPipeline(fileSchema, requiredSchema, Array.empty,
          it, it, Map("__op" -> ins.op, "__ver" -> ins.ver))
      case del: GraftDvChangeDeletePartition =>
        val it = new GraftStorage.FileIterator(del.path, del.cols,
          fileSchema, del.rows, del.rangeStart, del.rangeEnd,
          fileColIds = del.colIds)
        val dels = del.dels
        val wrapped = new Iterator[InternalRow] {
          private var pos = del.posBase - 1L
          private var cur: InternalRow = _
          override def hasNext: Boolean = {
            if (cur != null) return true
            while (it.hasNext) {
              val r = it.next()
              pos += 1
              if (java.util.Arrays.binarySearch(dels, pos) >= 0) {
                cur = r
                return true
              }
            }
            false
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            val r = cur; cur = null; r
          }
        }
        new GraftRowPipeline(fileSchema, requiredSchema, Array.empty,
          wrapped, it, Map("__op" -> 2, "__ver" -> del.ver))
      case eqp: GraftDvChangeEqDeletePartition =>
        // key columns must be read even when the consumer pruned them
        val eqFileSchema = GraftStorage.projectionSchema(dataSchema,
          dataRequired, Array.empty, eqp.keyCols.toSet)
        val it = new GraftStorage.FileIterator(eqp.path, eqp.cols,
          eqFileSchema, eqp.rows, fileColIds = eqp.colIds)
        val names = eqFileSchema.fieldNames.toIndexedSeq
        val ords = eqp.keyCols.map { c =>
          val o = GraftStorage.ordinalByName(names, c)
          (o, eqFileSchema.fields(o).dataType)
        }.toArray
        val keys = eqp.keys
        val wrapped = it.filter { r =>
          !ords.exists(o => r.isNullAt(o._1)) && {
            val v: AnyRef =
              if (ords.length == 1)
                GraftDeltaTable.idValue(r, ords(0)._1, ords(0)._2)
              else Vector.tabulate(ords.length)(j =>
                GraftDeltaTable.idValue(r, ords(j)._1, ords(j)._2))
            keys.contains(v)
          }
        }
        new GraftRowPipeline(eqFileSchema, requiredSchema, Array.empty,
          wrapped, it, Map("__op" -> 2, "__ver" -> eqp.ver))
      case other =>
        throw new IllegalStateException(s"unexpected partition $other")
    }
}

case class GraftDvCommitMsg(dvFiles: Seq[GraftFileRef],
    dataFiles: Seq[GraftFileRef], refPaths: Seq[String])
    extends WriterCommitMessage

case class GraftEqCommitMsg(eqFiles: Seq[GraftFileRef],
    dataFiles: Seq[GraftFileRef]) extends WriterCommitMessage

/** Upsert write ([[GraftDvTable.newWriteBuilder]] with
  * `graft.upsert_keys`): batch appends and streaming epochs share one
  * factory; the streaming side dedupes replayed epochs by
  * (queryId, epochId) inside [[GraftTable.commitEqDelta]]. */
class GraftDvUpsertWriteBuilder(table: GraftDvTable,
    incoming: StructType, queryId: String, keyCols: Vector[String])
    extends WriteBuilder {

  private def collect(messages: Array[WriterCommitMessage])
      : (Seq[GraftFileRef], Seq[GraftFileRef]) = {
    val ms = messages.toSeq.collect { case m: GraftEqCommitMsg => m }
    (ms.flatMap(_.eqFiles), ms.flatMap(_.dataFiles))
  }
  private def deleteAll(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftEqCommitMsg(eq, data) =>
        (eq ++ data).foreach(f =>
          Files.deleteIfExists(Paths.get(f.path)): Unit)
      case _ => ()
    }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(
          info: PhysicalWriteInfo): DataWriterFactory =
        table.upsertWriterFactory(incoming, keyCols)
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val (eq, data) = collect(messages)
        table.commitEqDelta(eq, data)
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        deleteAll(messages)
    }
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
        override def createStreamingWriterFactory(
            info: PhysicalWriteInfo)
            : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
          table.upsertWriterFactory(incoming, keyCols)
        override def commit(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit = {
          val (eq, data) = collect(messages)
          table.commitEqDelta(eq, data, queryId, epochId)
        }
        override def abort(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit =
          deleteAll(messages)
      }
    override def description(): String =
      s"GraftDvUpsertWrite(${table.name()}, keys=${keyCols.mkString(",")})"
  }
}

/** Per-task upsert writer: rows stream through the table's ordinary
  * writer factory (partition splitting / stats / blooms / buckets /
  * generated columns all hold), while the task accumulates the
  * DISTINCT key tuples it saw; commit writes them as one sorted-free
  * `eq-` delete file. Null keys reject — a null key cannot match the
  * row it replaces. */
class GraftDvUpsertWriterFactory(dataDir: String, deltaDir: String,
    incoming: StructType, target: StructType, keyOrds: Array[Int],
    keyCols: Vector[String], partSpec: Array[(Int, String)],
    bucketSpec: (Int, Int), bloomCols: Seq[String],
    genCols: Array[(Int, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  private def keySchema: StructType = {
    val names = target.fieldNames.toIndexedSeq
    StructType(keyCols.map { c =>
      target.fields(GraftStorage.ordinalByName(names, c))
        .copy(nullable = false)
    })
  }

  // built on the DRIVER (it resolves session conf at construction),
  // serialized to executors with this factory
  private val innerFactory = new GraftWriterFactory(dataDir, incoming,
    target, partSpec, bucketSpec._1, bucketSpec._2, bloomCols, genCols)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val inner = innerFactory.createWriter(partitionId, taskId)
    private val keyDts = keyOrds.map(o => incoming.fields(o).dataType)
    private val keys = new java.util.LinkedHashSet[AnyRef]()

    override def write(row: InternalRow): Unit = {
      var i = 0
      while (i < keyOrds.length) {
        require(!row.isNullAt(keyOrds(i)),
          s"graft.upsert_keys column ${keyCols(i)} is null — a null " +
            "key cannot match the row it replaces")
        i += 1
      }
      val v: AnyRef =
        if (keyOrds.length == 1)
          GraftDeltaTable.idValue(row, keyOrds(0), keyDts(0))
        else Vector.tabulate(keyOrds.length)(j =>
          GraftDeltaTable.idValue(row, keyOrds(j), keyDts(j)))
      keys.add(v): Unit
      inner.write(row)
    }

    override def commit(): WriterCommitMessage = {
      val dataRefs = inner.commit() match {
        case GraftFileCommitMsg(fs) => fs
        case other =>
          throw new IllegalStateException(s"unexpected commit $other")
      }
      val eqRefs =
        if (keys.isEmpty) Nil
        else {
          val ks = keySchema
          val w = new GraftStorage.FileWriter(
            deltaDir + "/eq-" + UUID.randomUUID().toString + ".parquet",
            ks)
          val buf = new GenericInternalRow(ks.length)
          keys.forEach { k =>
            val parts: Seq[AnyRef] = k match {
              case v: Vector[_] => v.asInstanceOf[Vector[AnyRef]]
              case single => Seq(single)
            }
            var i = 0
            parts.foreach { p =>
              buf.update(i, p match {
                case s: String => UTF8String.fromString(s)
                case other => other
              })
              i += 1
            }
            w.write(buf)
          }
          Seq(w.closeAndRef())
        }
      GraftEqCommitMsg(eqRefs, dataRefs)
    }

    override def abort(): Unit = inner.abort()
    override def close(): Unit = ()
  }
}

/** Per-task DV delta writer: buffers (file, position) tombstones,
  * routes inserted rows through the table's ordinary
  * [[GraftWriterFactory]] (partition splitting / stats / blooms /
  * buckets all apply), and at commit writes ONE sorted vector file.
  * Updates never arrive (represented as delete + insert). */
class GraftDvWriterFactory(deltaDir: String, dataDir: String,
    tableSchema: StructType, dvSchema: StructType,
    partSpec: Array[(Int, String)], bucketSpec: (Int, Int),
    bloomCols: Seq[String],
    genCols: Array[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] =
      Array.empty)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      // an UPDATE's re-insert arrives with the STALE derived value
      // when a source column changed — recompute without enforcing
      // (the rewrite-path contract, same as CoW's ReplaceGroups)
      private val inner = new GraftWriterFactory(dataDir, tableSchema,
        tableSchema, partSpec, bucketSpec._1, bucketSpec._2, bloomCols,
        genCols, enforceGenerated = false)
      private var ins: DataWriter[InternalRow] = _
      private val dels = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Long]]

      override def insert(row: InternalRow): Unit = {
        if (ins == null) ins = inner.createWriter(partitionId, taskId)
        ins.write(row)
      }

      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit =
        throw new IllegalStateException(
          "positional updates are represented as delete + insert")

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        // id layout = rowId() order: (_file, _pos)
        val f = id.getUTF8String(0).toString
        val p = id.getLong(1)
        dels.getOrElseUpdate(f,
          scala.collection.mutable.ArrayBuffer.empty[Long]) += p: Unit
      }

      override def commit(): WriterCommitMessage = {
        val dvRefs =
          if (dels.isEmpty) Nil
          else {
            val w = new GraftStorage.FileWriter(
              deltaDir + "/dv-" + UUID.randomUUID().toString + ".parquet",
              dvSchema)
            val buf = new GenericInternalRow(2)
            dels.toSeq.sortBy(_._1).foreach { case (f, ps) =>
              val u = UTF8String.fromString(f)
              ps.sorted.foreach { p =>
                buf.update(0, u)
                buf.update(1, p)
                w.write(buf)
              }
            }
            Seq(w.closeAndRef())
          }
        val dataRefs =
          if (ins == null) Nil
          else ins.commit() match {
            case GraftFileCommitMsg(fs) => fs
            case other =>
              throw new IllegalStateException(s"unexpected commit $other")
          }
        GraftDvCommitMsg(dvRefs, dataRefs, dels.keys.toSeq)
      }

      override def abort(): Unit =
        if (ins != null) ins.abort()

      override def close(): Unit = ()
    }
}
