package graft.catalog

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** Writers stream rows into per-task parquet files and return FILE REFS
  * in the commit message; commit() swaps file lists on the driver — the
  * standard DSv2 lakehouse contract (row bytes never visit the
  * driver). */
object GraftWriteBuilder {
  sealed trait Mode
  case object Append extends Mode
  case object ReplaceAll extends Mode
  final case class ReplaceGroups(op: GraftRowLevelOp) extends Mode
  final case class ReplaceMatching(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
    extends Mode
  case object ReplaceDynamic extends Mode
}

class GraftWriteBuilder(table: GraftTable, incoming: StructType,
    queryId: String, mode0: GraftWriteBuilder.Mode)
    extends WriteBuilder with SupportsOverwriteV2 with SupportsDynamicOverwrite {
  import GraftWriteBuilder._

  private var mode: Mode = mode0
  override def truncate(): WriteBuilder = { mode = ReplaceAll; this }
  // INSERT OVERWRITE ... PARTITION (p = v): accepted only when the
  // predicate is file-decidable (partition columns), else Spark falls
  // back loudly rather than this builder truncating too much
  override def canOverwrite(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    table.canMetaReplace(predicates)
  override def overwrite(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): WriteBuilder = {
    mode = ReplaceMatching(predicates); this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = ReplaceDynamic; this
  }

  private def collectRefs(messages: Array[WriterCommitMessage]): Seq[GraftFileRef] =
    messages.toSeq.flatMap { case GraftFileCommitMsg(refs) => refs }
  private def deleteFiles(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach { case GraftFileCommitMsg(refs) =>
      refs.foreach(ref => Files.deleteIfExists(Paths.get(ref.path)): Unit)
    }

  /** Partitioned tables demand CLUSTERED input (shuffle by partition
    * columns before the write): without it every task that sees k
    * partition values opens k files — the tasks × values small-file
    * explosion that murders lakehouse read performance at scale. With
    * it each partition value lands in one task = one file per value
    * per write (spec-pinned).
    *
    * `graft.sort_by` tables additionally demand SORTED input — and
    * when unpartitioned, an ORDERED (range) distribution, so each
    * write task owns a DISJOINT sort-key range and every data file's
    * min/max span is narrow and non-overlapping: range predicates on
    * the sort key then prune to the few files whose span intersects
    * (spec-pinned files-minus-one skip counts). This is the write-side
    * clustering knob (Iceberg's sort order); at 100 TB it is the
    * difference between a key-range scan touching 1/N of the files
    * and touching all of them. Plain unpartitioned unsorted writes
    * stay shuffle-free. */
  /** (bucket ordinal in the TABLE schema, numBuckets) for the writer
    * factories; (-1, 0) when unbucketed. */
  private def bucketArgs: (Int, Int) = table.bucketSpec match {
    case Some((c, n)) =>
      (GraftStorage.ordinalByName(
        table.schema().fieldNames.toIndexedSeq, c), n)
    case None => (-1, 0)
  }

  private trait GraftDistribution extends RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
    // graft.zorder_by: order by the Morton interleave of the clustered
    // columns — the `zorder` transform resolves through the catalog's
    // FunctionCatalog ([[GraftZOrder]]), range-shuffles on the z-value,
    // and every output file covers a compact box in EVERY dimension
    private def zSort: Array[SortOrder] =
      if (table.zorderColumns.isEmpty) Array.empty
      else Array(Expressions.sort(
        Expressions.apply("zorder", table.zorderColumns.map(c =>
          Expressions.column(c):
            org.apache.spark.sql.connector.expressions.Expression): _*),
        SortDirection.ASCENDING))
    private def sortOrders: Array[SortOrder] =
      (table.partitionCols ++ table.sortColumns).map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
        .toArray ++ zSort
    override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
      if (table.partitionCols.nonEmpty)
        // cluster by the partition TRANSFORM (identity(c) degenerates
        // to the column): a days(ts) write shuffles rows of one day to
        // one task — one file per day per write — where clustering by
        // raw ts would scatter a day across every task and recreate
        // the small-file explosion hidden partitioning exists to stop.
        // Transform names resolve through this catalog's
        // FunctionCatalog ([[GraftPartField.DaysFn]] et al.), the
        // bucket/zorder mechanism.
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          table.partFields.map(pf => pf.transform:
            org.apache.spark.sql.connector.expressions.Expression).toArray)
      else table.bucketSpec match {
        // cluster by the catalog-resolved bucket(n, col) transform so
        // each write task owns whole buckets — one file per bucket per
        // write, the layout SPJ groups on
        case Some((c, n)) =>
          org.apache.spark.sql.connector.distributions.Distributions
            .clustered(Array(Expressions.bucket(n, c):
              org.apache.spark.sql.connector.expressions.Expression))
        case None =>
          org.apache.spark.sql.connector.distributions.Distributions
            .ordered(sortOrders)
      }
    override def requiredOrdering(): Array[SortOrder] =
      if (table.sortColumns.nonEmpty || table.zorderColumns.nonEmpty)
        sortOrders
      else Array.empty
    override def distributionStrictlyRequired(): Boolean = false
    // graft.target_file_bytes: with a non-strict distribution Spark
    // plans the write shuffle as an AQE REBALANCE, and this advisory
    // sizes its output partitions — one ~N-byte file per task instead
    // of whatever the upstream parallelism happened to be (the write-
    // side small-file PREVENTION knob; rewrite_small_files is the
    // after-the-fact cure)
    override def advisoryPartitionSizeInBytes(): Long =
      table.targetFileBytes
  }

  /** Rebalance-only distribution for UNLAYOUTED tables that set
    * `graft.target_file_bytes`: clustering by a CONSTANT demands
    * nothing of row placement (every row shares the key) but is a
    * non-empty clustered distribution, so Spark plans an AQE REBALANCE
    * sized by the advisory — small inputs coalesce into one ~N-byte
    * file, huge ones split (skew-split in rebalance is on by
    * default). An EMPTY clustering would degenerate to "unspecified",
    * which Spark rejects alongside an advisory size. */
  private trait GraftRebalance extends RequiresDistributionAndOrdering {
    override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .literal(1)))
    override def requiredOrdering(): Array[
        org.apache.spark.sql.connector.expressions.SortOrder] = Array.empty
    override def distributionStrictlyRequired(): Boolean = false
    override def advisoryPartitionSizeInBytes(): Long =
      table.targetFileBytes
  }

  override def build(): Write =
    if (table.partitionCols.isEmpty && table.sortColumns.isEmpty &&
        table.zorderColumns.isEmpty && table.bucketSpec.isEmpty) {
      if (table.targetFileBytes > 0)
        new Write with GraftRebalance {
          private val inner = buildWrite
          override def toBatch: BatchWrite = inner.toBatch
          override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            inner.toStreaming
          override def description(): String = inner.description()
        }
      else buildWrite
    }
  else new Write with GraftDistribution {
    private val inner = buildWrite
    override def toBatch: BatchWrite = inner.toBatch
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      inner.toStreaming
    override def description(): String = inner.description()
  }

  /** Generation expressions compiled on the DRIVER at factory-build
    * time (executors have no session); row-level rewrites (ReplaceGroups)
    * recompute without enforcing — their carry-over rows legitimately
    * hold stale derived values while a source column is being updated. */
  private def genArgs: Array[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] =
    table.compiledGeneratedCols(org.apache.spark.sql.SparkSession.active)
  private def enforceGen: Boolean = mode match {
    case ReplaceGroups(_) => false
    case _ => true
  }

  private def buildWrite: Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        new GraftWriterFactory(table.dataDir, incoming, table.schema(),
          table.partWriterSpec, bucketArgs._1, bucketArgs._2,
          table.bloomColumns, genArgs, enforceGen)
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val refs = collectRefs(messages)
        mode match {
          case Append => table.commitAppend(refs)
          case ReplaceAll => table.commitReplaceAll(refs)
          case ReplaceGroups(op) =>
            table.commitReplaceFiles(op.selected.map(_.path).toSet, refs)
          case ReplaceMatching(preds) =>
            table.commitOverwriteMatching(preds, refs)
          case ReplaceDynamic => table.commitOverwriteDynamic(refs)
        }
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        deleteFiles(messages)
    }

    /** Streaming sink (`writeStream.toTable`): per-epoch commit with
      * (queryId, epochId) exactly-once and Complete-mode truncation —
      * see [[GraftTable.commitStreamEpoch]]. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
        override def createStreamingWriterFactory(
            info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
          new GraftStreamingWriterFactory(
            new GraftWriterFactory(table.dataDir, incoming, table.schema(),
              table.partWriterSpec, bucketArgs._1, bucketArgs._2,
              table.bloomColumns, genArgs, enforceGen))
        override def commit(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit =
          table.commitStreamEpoch(queryId, epochId, collectRefs(messages),
            truncate = (mode == ReplaceAll))
        override def abort(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit =
          deleteFiles(messages)
      }
    override def description(): String =
      s"GraftWrite(${table.name()}, mode=$mode)"
  }
}

case class GraftFileCommitMsg(files: Seq[GraftFileRef])
    extends WriterCommitMessage

/** Top-level (outer-reference-free) streaming wrapper over the batch
  * writer factory — the factory ships to executors, so it must carry
  * only serializable state. */
class GraftStreamingWriterFactory(inner: GraftWriterFactory)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    inner.createWriter(partitionId, taskId)
}

/** Per-task writer: projects each incoming physical row into
  * TABLE-schema layout and streams it into a task-local parquet file
  * (created lazily — an empty task commits no file).
  *
  * Columns are resolved BY NAME against the write's logical schema (the
  * write query's order need not be the storage order; exact match first,
  * unique case-insensitive fallback — ADVICE r9), and physical rows may
  * carry ONE extra leading column the logical schema doesn't mention:
  * Spark 4.1's unified row-level rewrite emits
  * `Project [<op> AS __row_operation, <data cols>]` under ReplaceData,
  * and `ReplaceDataExec.writingTask` applies the stripping rowProjection
  * only on the metadata path — a group-based operation with no metadata
  * attributes receives the marker column attached. The offset handling
  * below strips it; the bound is validated per batch (offset must be 0
  * or 1, layout must not change mid-write), and GraftCatalogSpec pins
  * both the rewrite's plan shape (leading `__row_operation`) and
  * end-state equality with the DataFrame-side merge, so a Spark upgrade
  * that changes the contract fails loudly instead of corrupting
  * storage. */
class GraftWriterFactory(dataDir: String, incoming: StructType,
    target: StructType, partSpec: Array[(Int, String)] = Array.empty,
    bucketOrd: Int = -1, bucketN: Int = 0,
    bloomCols: Seq[String] = Nil,
    // GENERATED ALWAYS AS columns: (target ordinal, expression bound to
    // the target layout), compiled on the driver. Every write recomputes
    // them; `enforceGenerated` additionally rejects an incoming NON-NULL
    // value that differs from the computed one (user INSERT paths) —
    // row-level rewrites pass false, because their carry-over rows
    // legitimately hold stale derived values when a source column is
    // being UPDATEd (the recompute is exactly the point).
    genCols: Array[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] =
      Array.empty,
    enforceGenerated: Boolean = true)
    extends DataWriterFactory {
  // (source ordinal, parsed transform) — parsed once per factory; the
  // encoded-string ctor form is what serializes to executors
  @transient private lazy val partFields: Array[(Int, GraftPartField)] =
    partSpec.map { case (o, s) => (o, GraftPartField.parse(s)) }
  // resolved on the DRIVER (factories serialize to executors, where no
  // session exists): files at least this big record their row-group
  // offsets into the commit ref at close — the knob tests lower so a
  // small compaction output exercises the offsets path
  private val groupRecordMinBytes: Long =
    try org.apache.spark.sql.SparkSession.active.conf
      .get("graft.write.group_record_min_bytes",
        GraftStorage.GroupRecordMinBytes.toString).toLong
    catch { case _: Exception => GraftStorage.GroupRecordMinBytes }
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var proj: UnsafeProjection = _
      private var projFields = -1
      // one open file per distinct partition-column value tuple this
      // task sees (unpartitioned: the single Nil key) — each file holds
      // exactly one value per partition column, so its min/max stats
      // pin to that value and stats skipping becomes partition pruning
      private val outs =
        scala.collection.mutable.LinkedHashMap.empty[List[Any], GraftStorage.FileWriter]

      private def projFor(row: InternalRow): UnsafeProjection = {
        if (proj == null) {
          val offset = row.numFields - incoming.size
          require(offset == 0 || offset == 1,
            s"row has ${row.numFields} fields for write schema " +
              s"${incoming.catalogString} — unknown physical layout")
          val inNames = incoming.fieldNames.toIndexedSeq
          val exprs = target.fields.map { f =>
            val idx = GraftStorage.ordinalByName(inNames, f.name)
            require(idx >= 0, s"write schema ${incoming.catalogString} " +
              s"is missing table column ${f.name} of ${target.catalogString}")
            BoundReference(offset + idx, incoming.fields(idx).dataType,
              nullable = true)
          }
          proj = UnsafeProjection.create(exprs.toIndexedSeq)
          projFields = row.numFields
        }
        require(row.numFields == projFields,
          s"row layout changed mid-write: $projFields -> ${row.numFields}")
        proj
      }

      private def partKey(r: InternalRow): List[Any] =
        if (bucketOrd >= 0) {
          // hash-bucket clustering: every file holds exactly ONE bucket,
          // recorded on its commit ref for SPJ grouping + bucket pruning
          val dt = target.fields(bucketOrd).dataType
          val v = if (r.isNullAt(bucketOrd)) null
            else r.get(bucketOrd, dt)
          List(GraftBucket.bucketId(dt, v, bucketN))
        } else partFields.toList.map { case (o, pf) =>
          if (r.isNullAt(o)) null
          else {
            val dt = target.fields(o).dataType
            // the TRANSFORM result is the split unit: identity keeps
            // the value (one file per value), days/truncate/... keep
            // one file per transform bucket
            pf.eval(dt, r.get(o, dt)) match {
              case s: org.apache.spark.unsafe.types.UTF8String => s.toString
              case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
              case other => other
            }
          }
        }

      // identity projection except generated ordinals, which compute
      // from the row's other columns — built lazily per task
      private lazy val genProj: UnsafeProjection = {
        val gm = genCols.toMap
        UnsafeProjection.create(target.fields.zipWithIndex.map {
          case (f, i) => gm.getOrElse(i,
            BoundReference(i, f.dataType, nullable = true)
              : org.apache.spark.sql.catalyst.expressions.Expression)
        }.toIndexedSeq)
      }

      private def genFill(projected: InternalRow): InternalRow = {
        if (genCols.isEmpty) return projected
        if (enforceGenerated) {
          var j = 0
          while (j < genCols.length) {
            val (i, e) = genCols(j)
            val dt = target.fields(i).dataType
            if (!projected.isNullAt(i)) {
              val incoming = projected.get(i, dt)
              val computed = e.eval(projected)
              require(computed == incoming,
                s"GENERATED ALWAYS AS column ${target.fields(i).name} " +
                  s"cannot be assigned: got $incoming, the definition " +
                  s"computes $computed — omit the column")
            }
            j += 1
          }
        }
        genProj(projected)
      }

      override def write(row: InternalRow): Unit = {
        val filled = genFill(projFor(row)(row))
        val out = outs.getOrElseUpdate(partKey(filled),
          new GraftStorage.FileWriter(
            dataDir + "/part-" + UUID.randomUUID().toString + ".parquet",
            target, groupRecordMinBytes = groupRecordMinBytes,
            bloomCols = bloomCols))
        out.write(filled)
      }
      override def commit(): WriterCommitMessage =
        GraftFileCommitMsg(outs.toSeq.map { case (key, w) =>
          val r = w.closeAndRef()
          if (bucketOrd >= 0) r.copy(bucket = key.head.asInstanceOf[Int])
          else r
        })
      override def abort(): Unit =
        outs.values.foreach(_.closeAndDelete())
      override def close(): Unit = ()
    }
}

