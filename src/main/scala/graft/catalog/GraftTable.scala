package graft.catalog

import java.nio.file.{Files, Path => NioPath, Paths}
import java.util

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A managed parquet-backed table: readable (batch + micro-batch
  * stream), appendable/truncatable (batch + streaming epochs), and a
  * row-level-operation target (MERGE/UPDATE/DELETE at file-granularity
  * copy-on-write). State is an immutable [[GraftTableState]] swapped
  * under the table lock and persisted after every commit, so readers
  * planned against one snapshot never observe a concurrent commit
  * mid-scan — and committed files are never mutated, so a planned scan
  * stays valid even across later DML (physical deletion happens only at
  * DROP TABLE or explicit orphan GC). */
object GraftTable {
  /** Default orphan-GC grace: files younger than this are never swept,
    * so an in-flight writer task's not-yet-committed parquet survives a
    * concurrent `CALL expire_snapshots` (ADVICE r10). Overridable per
    * call (`older_than_ms`); Iceberg's equivalent default is 3 days —
    * ours is shorter because writer tasks here are minutes, not
    * multi-hour jobs. */
  val GcGraceMs: Long = 10L * 60 * 1000
}

class GraftTable(ident: String, val dir: NioPath,
    initState: GraftTableState, retain: Int,
    partCols: Seq[String] = Nil, appendRetain: Int = 65536,
    sortCols: Seq[String] = Nil, zorderCols: Seq[String] = Nil,
    bucketBy: Option[(String, Int)] = None,
    bloomCols: Seq[String] = Nil, targetBytes: Long = 0L,
    extraProps: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsDeleteV2
    with SupportsMetadataColumns {

  /** `_file` metadata column (Iceberg's debugging staple): which data
    * file produced each row — resolvable in any SELECT, materialized
    * per partition as a constant (no per-row cost). */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = true
      override def comment(): String =
        "path of the data file this row was read from"
    })

  @volatile private var state: GraftTableState = initState

  /** Warehouse transaction-marker directory (multi-table atomic
    * publish): `_txn/<id>.committed` is the single atomic visibility
    * point for every table in transaction <id>; `.aborted` records a
    * resolved failure. Table dirs live directly under the warehouse. */
  private def txnMarker(id: String, kind: String): NioPath =
    dir.getParent.resolve("_txn").resolve(s"$id.$kind")

  /** Fold a publish-stamped head into (committed) or out of (aborted /
    * in-flight) a state — the ONE place the repair arithmetic lives,
    * shared by the reader view and the writer-side disambiguation so
    * the two can never disagree. Dropping the head also hides its
    * append-log entries (they entered in the same commit) from the
    * stream axis. */
  private def foldPublish(st: GraftTableState,
      committed: Boolean): GraftTableState =
    if (committed) st.copy(publishTxn = "")
    else {
      val n = st.current.map(_.files.size).getOrElse(0)
      // The stamped commit appended n entries, but trimAppend may have
      // consumed some of THEM already (a fast-forwarded file set larger
      // than graft.append_retain trims from the front through the
      // commit's own tail): only `present` remain in the log. Dropping
      // n unconditionally would eat pre-transaction entries that were
      // never trimmed; and the base must roll back past the phantom
      // portion of the trim the aborted commit caused, or the append
      // axis ends beyond the last offset that ever held committed data
      // (ADVICE r16). Trim drops from the front, the txn's entries are
      // the tail — so present = min(n, log size) is exact.
      val present = math.min(n, st.appendLog.size)
      st.copy(snapshots = st.snapshots.init, publishTxn = "",
        appendLog = st.appendLog.dropRight(present),
        appendBase = st.appendBase - (n - present))
    }

  /** Transactions whose `.committed` marker this handle has already
    * seen: a published read-mostly table would otherwise pay a
    * Files.exists on EVERY stateNow until its next write persists the
    * cleared stamp. Bounded (capped) — transactions are rare events. */
  @volatile private var committedTxnsSeen: Set[String] = Set.empty

  /** READ-side resolution of a pending publish transaction: a state
    * whose head snapshot carries a `publishTxn` stamp serves the head
    * only once the transaction's `.committed` marker exists; until
    * then (in-flight, aborted, or crashed) the PREVIOUS snapshot is
    * the visible truth — so the visibility flip for every table in
    * the transaction is one atomic marker creation. View-only: disk
    * state is repaired by the next writer (which disambiguates under
    * the index lock — see commitLoop). Cost: one memoized set probe,
    * or two Files.exists the first time the rare stamp is met. */
  private def resolvePublishView(st: GraftTableState): GraftTableState =
    if (st.publishTxn.isEmpty) st
    else if (committedTxnsSeen.contains(st.publishTxn))
      foldPublish(st, committed = true)
    else if (Files.exists(txnMarker(st.publishTxn, "committed"))) {
      if (committedTxnsSeen.size < 1024)
        committedTxnsSeen += st.publishTxn
      foldPublish(st, committed = true)
    } else foldPublish(st, committed = false)

  private[graft] def stateNow: GraftTableState = resolvePublishView(state)

  /** The RAW head version, pending-publish heads included — what a
    * phase-1-committed fast-forward will become once its transaction's
    * marker lands. Publisher-side bookkeeping only (the consistent-cut
    * freshness stamps); readers resolve through [[stateNow]]. */
  private[graft] def pendingHeadVersion: Int =
    state.snapshots.lastOption.map(_.version).getOrElse(-1)

  /** Has transaction `id`'s commit marker landed? The resolution probe
    * for PENDING freshness stamps (`graft.mv.*.pending`): a stamp
    * written between a publish's phase-1 CAS and its marker create
    * becomes authoritative at exactly the marker instant — the same
    * visibility point as the content it describes. Memoized like
    * [[resolvePublishView]] (markers are immutable once present). */
  private[graft] def publishTxnCommitted(id: String): Boolean =
    committedTxnsSeen.contains(id) || {
      val ok = Files.exists(txnMarker(id, "committed"))
      if (ok && committedTxnsSeen.size < 1024) committedTxnsSeen += id
      ok
    }

  private[graft] def dataDir: String =
    dir.resolve("data").toAbsolutePath.toString

  private[graft] def baseRowCount: Long =
    state.current.map(_.files.map(_.rows).sum).getOrElse(0L)
  private[graft] def currentFilePaths: Vector[String] =
    state.current.map(_.files.map(_.path)).getOrElse(Vector.empty)
  private[graft] def retainedVersions: Seq[Int] =
    state.snapshots.map(_.version)

  override def name(): String = ident
  override def schema(): StructType = state.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // MERGE WITH SCHEMA EVOLUTION: the analyzer computes the source
      // columns the target lacks and routes them through alterTable ADD
      // COLUMN (the same schema-commit path as explicit DDL) before
      // rewriting the merge. The capability only ADMITS evolution —
      // a merge without the explicit clause never evolves (spec-pinned),
      // and layout/reserved columns still reject inside alterAddColumn.
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** SHOW TBLPROPERTIES / DESCRIBE EXTENDED surface: the knobs this
    * table was created with, plus a current-state census — the quick
    * operational read before any maintenance CALL. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("graft.mode", tableKind)
    m.put("graft.retain", retain.toString)
    m.put("graft.append_retain", appendRetain.toString)
    if (partCols.nonEmpty) m.put("graft.partitioned_by", partCols.mkString(","))
    if (sortCols.nonEmpty) m.put("graft.sort_by", sortCols.mkString(","))
    if (zorderCols.nonEmpty)
      m.put("graft.zorder_by", zorderCols.mkString(","))
    bucketBy.foreach { case (c, n) =>
      m.put("graft.bucket_by", s"$c,$n") }
    if (bloomCols.nonEmpty)
      m.put("graft.bloom_by", bloomCols.mkString(","))
    if (targetBytes > 0)
      m.put("graft.target_file_bytes", targetBytes.toString)
    extraProps.foreach { case (k, v) => m.put(k, v) }
    // publish-resolved view: an invisible pending head must not leak
    // its version through SHOW TBLPROPERTIES — the MV stamping pattern
    // reads graft.current_version, and a pending version stamped as
    // graft.mv.base_version would mark a stale MV fresh the instant
    // the transaction commits (round-16 review find)
    val st = stateNow
    m.put("graft.current_version",
      st.current.map(_.version).getOrElse(-1).toString)
    m.put("graft.data_files",
      st.current.map(_.files.size).getOrElse(0).toString)
    m.put("graft.delta_files",
      st.current.map(_.deltaFiles.size).getOrElse(0).toString)
    m
  }
  protected def tableKind: String = "cow"

  /** GENERATED ALWAYS AS columns: (ordinal, generation SQL) from the
    * stored schema's metadata. The SQL is compiled per write build on
    * the driver ([[GraftWriteBuilder]]) — executors receive the bound
    * expression. */
  private[catalog] def generatedColSpec: Seq[(Int, String)] = {
    val key = org.apache.spark.sql.graftshims.GraftShims
      .generationExpressionKey
    state.schema.fields.zipWithIndex.collect {
      case (f, i) if f.metadata.contains(key) =>
        (i, f.metadata.getString(key))
    }.toSeq
  }

  /** Driver-side compile of every generation expression against the
    * CURRENT schema layout (the layout write rows are projected to). */
  private[catalog] def compiledGeneratedCols(
      spark: org.apache.spark.sql.SparkSession)
      : Array[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = {
    val sch = state.schema
    generatedColSpec.map { case (i, sql) =>
      (i, org.apache.spark.sql.graftshims.GraftShims
        .compileRowExpression(spark, sch, sql))
    }.toArray
  }

  /** Table-level analyzed column NDVs (`CALL system.analyze`), served
    * to CBO ONLY while the analyzed version is still the current one —
    * any commit after the analysis invalidates them (the scan then
    * falls back to the summed per-file upper bound). Standard
    * stale-stats discipline, but honest: this engine never serves an
    * analyzed number whose provenance version drifted. */
  private[catalog] def analyzedNdv: Map[String, Long] =
    extraProps.get("graft.stats.version").flatMap(_.toIntOption) match {
      case Some(v) if state.current.map(_.version).contains(v) =>
        extraProps.collect {
          case (k, value) if k.startsWith("graft.stats.ndv.") &&
              value.toLongOption.isDefined =>
            k.stripPrefix("graft.stats.ndv.") -> value.toLong
        }
      case _ => Map.empty
    }

  /** Analyzed equi-height histograms (`CALL system.analyze(t, cols,
    * approx, buckets)`), version-gated exactly like [[analyzedNdv]]:
    * column -> (bin height, (lo, hi, ndv) bins). Encoded as
    * `height|lo,hi,ndv;...` in `graft.stats.hist.<col>`; a malformed
    * encoding is simply not served (stats are advisory, never load-
    * bearing). */
  private[graft] def analyzedHist:
      Map[String, (Double, Array[(Double, Double, Long)])] =
    extraProps.get("graft.stats.version").flatMap(_.toIntOption) match {
      case Some(v) if state.current.map(_.version).contains(v) =>
        extraProps.flatMap {
          case (k, value) if k.startsWith("graft.stats.hist.") =>
            try {
              val Array(h, binsEnc) = value.split('|')
              val bins = binsEnc.split(';').map { b =>
                val Array(lo, hi, ndv) = b.split(',')
                (lo.toDouble, hi.toDouble, ndv.toLong)
              }
              if (bins.isEmpty) None
              else Some(k.stripPrefix("graft.stats.hist.") ->
                (h.toDouble, bins))
            } catch { case _: Exception => None }
          case _ => None
        }
      case _ => Map.empty
    }

  /** Analyzed most-common-value lists (`CALL system.analyze(t, cols,
    * approx, buckets, mcv)`), version-gated exactly like
    * [[analyzedNdv]]: column -> (not-null row count, (value, count)
    * list, most-common first, value-then-count tie-broken, values
    * URL-decoded). The skew statistic for STRING join keys — numeric
    * histograms can't carry them — consumed by the engine's hot-key
    * salted-join rewrite ([[graft.plans.SaltSkewJoin]]). Malformed
    * encodings are not served (stats are advisory). */
  private[graft] def analyzedMcv:
      Map[String, (Long, Vector[(String, Long)])] =
    extraProps.get("graft.stats.version").flatMap(_.toIntOption) match {
      case Some(v) if state.current.map(_.version).contains(v) =>
        extraProps.flatMap {
          case (k, value) if k.startsWith("graft.stats.mcv.") =>
            try {
              val (tot, vs) = GraftMcv.decode(value)
              if (vs.isEmpty) None
              else Some(k.stripPrefix("graft.stats.mcv.") -> (tot, vs))
            } catch { case _: Exception => None }
          case _ => None
        }
      case _ => Map.empty
    }

  /** Hidden partitioning, Iceberg style: writers split their output so
    * every data file holds ONE partition value — the source value for
    * identity fields, the TRANSFORM result (one day / month / prefix)
    * for transform fields ([[GraftPartField]]). Either way each file's
    * min/max stats on the source column pin to the partition's span, so
    * the ordinary stats-based file skipping IS exact partition pruning,
    * with no hive directory layout and no separate pruning code path —
    * and the user's predicates stay on the source column. */
  override def partitioning(): Array[Transform] =
    partFields.map(_.transform).toArray

  /** Parsed partition spec (identity fields keep fn = "identity"). */
  private[catalog] lazy val partFields: Seq[GraftPartField] =
    partCols.map(GraftPartField.parse)

  /** SOURCE column names of the partition spec — the axis stats-based
    * pruning, runtime filtering, and exact partition pushdown work on
    * (a `days(ts)` table prunes and pushes against `ts`). */
  private[catalog] def partitionCols: Seq[String] = partFields.map(_.col)

  /** Encoded spec strings, for scan builders and persistence. */
  private[catalog] def partSpecEncoded: Seq[String] = partCols
  private[catalog] def sortColumns: Seq[String] = sortCols
  private[catalog] def zorderColumns: Seq[String] = zorderCols
  private[graft] def bucketSpec: Option[(String, Int)] = bucketBy
  /** Layout facts served to the optimizer-side skew gates
    * ([[graft.plans.SaltSkewJoin]]): identity partition source columns
    * (an SPJ-capable layout alongside [[bucketSpec]]) and the current
    * snapshot's recorded data size — rows exactly, bytes as compressed
    * file size (an order-of-magnitude broadcast heuristic, which is all
    * a refusal gate needs). */
  private[graft] def identityPartitionCols: Seq[String] =
    if (partFields.nonEmpty && partFields.forall(_.isIdentity))
      partFields.map(_.col)
    else Nil
  private[graft] def currentDataBytes: Long =
    stateNow.current
      .map(s => (s.files ++ s.deltaFiles).map(_.bytes).sum)
      .getOrElse(0L)
  private[graft] def currentDataRows: Long =
    stateNow.current.map(_.files.map(_.rows).sum).getOrElse(0L)
  private[catalog] def bloomColumns: Seq[String] = bloomCols
  private[catalog] def targetFileBytes: Long = targetBytes

  /** (source ordinal, encoded transform) pairs for the writer
    * factories — encoded strings because factories serialize to
    * executors, which re-parse once per task. */
  private[catalog] def partWriterSpec: Array[(Int, String)] = {
    val names = state.schema.fieldNames.toIndexedSeq
    partFields.map(pf =>
      (GraftStorage.ordinalByName(names, pf.col), pf.encoded)).toArray
  }

  // ---- commit protocol -------------------------------------------------
  // Every mutation is an OPTIMISTIC round under [[commitLoop]]: refresh
  // the in-memory state from the newest on-disk log (another PROCESS may
  // have committed — the JVM lock only serializes writers in this one),
  // build + validate the next state against the refreshed view, and
  // CAS-publish it as `_graft_log.v{N}.json`. A lost CAS re-enters the
  // loop, so losers re-validate and retry; conflicts surface as the
  // builder's own loud validation errors, never as silent lost updates.
  // Retention trims the snapshot WINDOW (metadata); nextVersion keeps
  // numbering monotonic so expired versions error by name instead of
  // aliasing.

  // TAGGED snapshots are exempt from trimming (write-audit-publish:
  // a pinned 'published' version must survive unrelated commit churn);
  // the window may exceed `retain` by at most |tags| entries.
  private def retainWindow(v: Vector[GraftSnapshot]): Vector[GraftSnapshot] =
    if (v.size <= retain) v
    else {
      val tagged = state.tags.values.toSet
      val cut = v.size - retain
      v.zipWithIndex.collect { case (s, i)
        if i >= cut || tagged.contains(s.version) => s }
    }

  /** Adopt the newest on-disk state if a concurrent PROCESS committed
    * past this handle's view. Called at the top of every commit round
    * and at scan planning, so both writers and readers observe foreign
    * commits; same-process writers are already serialized by the JVM
    * lock and see `state` directly. */
  private[graft] def refreshFromDisk(): Unit = synchronized {
    var done = false
    while (!done) {
      val latest = GraftStorage.latestLogVersion(dir)
      if (latest <= state.nextVersion) done = true
      else {
        // between listing and read a fast concurrent writer can commit
        // 4+ more versions and prune the one we chose — re-list rather
        // than fail the caller (stress-spec find)
        try { state = GraftStorage.readLogVersion(dir, latest); done = true }
        catch { case _: java.nio.file.NoSuchFileException => () }
      }
    }
  }

  /** In-flight idempotent batch apply: (appId, batchId) to stamp into
    * the next commit's transaction ledger. Set/cleared only by
    * [[applyBatchOnce]]. */
  @volatile private[graft] var pendingTxn: Option[(String, Long)] = None

  /** Idempotent foreachBatch application (VERDICT r12 item 7 — the MV
    * crash-replay hardening; Delta's txnAppId/txnVersion pattern).
    * foreachBatch is AT-LEAST-ONCE: a crash between the batch's table
    * commit and the streaming checkpoint commit re-delivers the batch
    * on restart. `body` runs only when `batchId` is NEWER than the
    * last id the ledger recorded for `appId`; the commit(s) `body`
    * performs on THIS table carry the ledger stamp atomically, so the
    * replayed batch sees it recorded and skips — no double-increment.
    * Returns false when the batch was already applied. `appId` must be
    * stable across restarts (the MV's name, not the run's query id);
    * Spark batch ids are monotonic per checkpoint. */
  private[graft] def applyBatchOnce(appId: String, batchId: Long)(
      body: => Unit): Boolean = {
    refreshFromDisk()
    if (stateNow.txns.get(appId).exists(_ >= batchId)) false
    else {
      pendingTxn = Some((appId, batchId))
      try { body; true }
      finally pendingTxn = None
    }
  }

  /** One optimistic commit: refresh, build (validating against the
    * refreshed state — builders throw their own loud conflict errors),
    * CAS-publish. `build` returning None means the round decided to
    * commit nothing (deduped stream epoch replay).
    *
    * PUBLISH-TRANSACTION disambiguation (round 16): a head snapshot
    * stamped `publishTxn` whose transaction has no marker yet is
    * either in flight (the publisher holds the warehouse index lock)
    * or crashed. A writer must not build on ambiguous content — and it
    * must NOT take the index lock while holding this table's monitor
    * (the publisher takes lock-then-monitor; the reverse order would
    * deadlock). So the round EXITS the monitor and resolves under the
    * index lock: once acquired, a live publisher cannot exist, and the
    * transaction is aborted by marker. Resolved markers fold in-place:
    * committed -> the head is real; aborted -> the head (and its
    * append-log entries) drop from the build basis, and the next CAS
    * persists the repaired state. */
  private def commitLoop(build: () => Option[GraftTableState]): Unit = {
    var lastSeen = -1
    var stuckRounds = 0
    while (true) {
      // 0 = done, 1 = CAS lost (retry), 2 = unresolved publish txn
      // (resolve outside the monitor, then retry)
      val outcome: Int = synchronized {
        refreshFromDisk()
        val pend = state.publishTxn
        if (pend.nonEmpty) {
          if (Files.exists(txnMarker(pend, "committed")))
            state = foldPublish(state, committed = true)
          else if (Files.exists(txnMarker(pend, "aborted")))
            state = foldPublish(state, committed = false)
        }
        if (state.publishTxn.nonEmpty) 2
        else {
          // spin-breaker: a CAS loss should always come with a NEWER
          // state to rebase onto; losing repeatedly at the SAME version
          // means the log is inconsistent (e.g. a version-numbering
          // gap) — fail loudly instead of burning a core forever
          if (state.nextVersion == lastSeen) {
            stuckRounds += 1
            require(stuckRounds < 100,
              s"commit loop stuck at version ${state.nextVersion} on " +
                s"$ident: CAS keeps losing without a newer state to " +
                "rebase onto — version log inconsistent?")
          } else { lastSeen = state.nextVersion; stuckRounds = 0 }
          build() match {
            case None => 0
            case Some(ns) =>
              // stamp the commit this state introduces (every commit
              // path appends exactly one unstamped snapshot) —
              // TIMESTAMP AS OF
              val stamped = ns.snapshots.lastOption
                .filter(_.tsMillis == 0L) match {
                case Some(s) => ns.copy(snapshots =
                  ns.snapshots.init :+
                    s.copy(tsMillis = System.currentTimeMillis()))
                case None => ns
              }
              // transaction-ledger stamp (VERDICT r12 item 7): when an
              // idempotent batch apply is in flight ([[applyBatchOnce]]),
              // record its (appId -> batchId) IN THIS SAME COMMIT — the
              // ledger entry and the batch's change become visible
              // atomically, so a crash leaves either both or neither,
              // never an applied-but-unrecorded batch
              val withTxn = pendingTxn match {
                case Some((a, v)) =>
                  stamped.copy(txns = stamped.txns + (a -> v))
                case None => stamped
              }
              if (GraftStorage.casWriteLog(dir, withTxn,
                  withTxn.nextVersion)) {
                state = withTxn
                GraftStorage.pruneLogs(dir, withTxn.nextVersion - 4)
                0
              } else 1
            // CAS lost to a foreign commit: loop — refresh adopts the
            // winner and the builder revalidates from scratch
          }
        }
      }
      outcome match {
        case 0 => return
        case 1 => () // retry round
        case 2 => resolveCrashedPublish()
      }
    }
  }

  /** Abort an unresolved publish transaction found on this table's
    * head. Taken WITHOUT the table monitor (lock-then-monitor is the
    * publisher's order); under the warehouse index lock a live
    * publisher cannot exist — it holds that lock for its entire
    * transaction — so an unmarked transaction is provably dead and
    * gets its `.aborted` marker here. Idempotent and race-safe: the
    * marker create tolerates a concurrent resolver. */
  private def resolveCrashedPublish(): Unit =
    GraftCatalog.withIndex(dir.getParent) { idx =>
      val t = state.publishTxn
      if (t.nonEmpty && !Files.exists(txnMarker(t, "committed")) &&
          !Files.exists(txnMarker(t, "aborted"))) {
        Files.createDirectories(dir.getParent.resolve("_txn"))
        try Files.createFile(txnMarker(t, "aborted")): Unit
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
      (idx, ())
    }

  /** Append-log retention: the stream-offset ledger keeps the last
    * `graft.append_retain` file entries; `appendBase` preserves global
    * offset numbering so a stream whose checkpoint predates the window
    * fails LOUDLY in planInputPartitions instead of silently skipping
    * (the same expired-vs-aliased rule as snapshot retention). */
  private def trimAppend(st: GraftTableState): GraftTableState =
    if (st.appendLog.size <= appendRetain) st
    else {
      val d = st.appendLog.size - appendRetain
      st.copy(appendLog = st.appendLog.drop(d), appendBase = st.appendBase + d)
    }

  private def curFiles: Vector[GraftFileRef] =
    state.current.map(_.files).getOrElse(Vector.empty)
  private def curDelta: Vector[GraftFileRef] =
    state.current.map(_.deltaFiles).getOrElse(Vector.empty)

  private[graft] def commitAppend(files: Seq[GraftFileRef]): Unit =
    commitLoop { () =>
      val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
        curFiles ++ files, curDelta)
      val next = state.copy(
        snapshots = retainWindow(state.snapshots :+ snap),
        nextVersion = state.nextVersion + 1,
        appendLog = state.appendLog ++ files)
      // DV `$changes` totality (round-16 gap, found by q275): a plain
      // append IS a change — without a ledger entry the feed silently
      // omitted INSERT INTO rows, so a CDC consumer's mirror diverged on
      // the first mixed DML+append history. Data files enter the change
      // ledger version-stamped; the feed reader already streams plain
      // data refs as `__op = 0` inserts (GraftDvChangeInsertPartition).
      // MOR deltas carry their ops in physical delta files and plain CoW
      // has the dedicated append feed — both unaffected here.
      Some(trimAppend(
        if (tableKind == "dv")
          trimChange(next.copy(changeLog = next.changeLog ++
            files.map(_.copy(ver = state.nextVersion))))
        else next))
    }

  /** Compaction guard (ADVICE r11): a compaction is a replace-all whose
    * CONTENT is the fold of a specific planned snapshot — if a foreign
    * commit (append or delta) lands between the compaction's scan and
    * its commit, publishing the stale fold would silently erase that
    * commit (a lost update the CAS layer exists to prevent). While set,
    * every replace-all round validates the current base+delta file
    * lists still equal the planned ones and throws a loud retryable
    * conflict otherwise. Plain INSERT OVERWRITE with fresh content is
    * last-writer-wins BY DESIGN and leaves this unset. */
  @volatile private[graft] var replaceAllGuard:
    Option[(Vector[String], Vector[String])] = None

  /** [[compactWhere]]'s pin (ADVICE r12): the base-file refs the
    * partition-scoped compaction SCANNED. While set,
    * [[commitOverwriteMatching]] requires the predicate-matching file
    * set at commit time to equal the one derivable from this snapshot
    * — a foreign commit adding or removing a matching file mid-
    * compaction surfaces as a loud retryable conflict instead of a
    * lost update (dropped-but-not-read) or a resurrection
    * (read-but-already-deleted). Plain INSERT … REPLACE WHERE with
    * fresh content stays last-writer-wins and leaves this unset. */
  @volatile private[graft] var replaceMatchingGuard:
    Option[Vector[GraftFileRef]] = None

  /** COMPACTION — rewrite accumulated small files (CoW) / fold the
    * delta log into the base (MOR) via the distributed self-overwrite:
    * the scan is snapshot-isolated from the truncate-replace commit.
    * The replaceAllGuard pins the planned base+delta file lists so a
    * foreign commit landing mid-compaction surfaces as a loud
    * retryable conflict instead of being erased by the stale fold
    * (ADVICE r11 — commitReplaceAll's builder deliberately ignores
    * prior state, which is correct for fresh-content INSERT OVERWRITE
    * and wrong for compaction). */
  private[graft] def compact(spark: org.apache.spark.sql.SparkSession,
      fqn: String): Unit = {
    refreshFromDisk()
    val st = stateNow
    replaceAllGuard = Some((
      st.current.map(_.files.map(_.path)).getOrElse(Vector.empty),
      st.current.map(_.deltaFiles.map(_.path)).getOrElse(Vector.empty)))
    // the self-overwrite MEANS truncate-replace: pin STATIC overwrite
    // semantics for its duration — under a session-level dynamic
    // partitionOverwriteMode Spark would otherwise plan
    // OverwritePartitionsDynamic, whose per-file partition keying
    // refuses pre-spec (unsplit) files — the exact layouts compaction
    // exists to cure (PartitionEvolutionSpec pins compact-under-
    // dynamic-conf)
    val k = "spark.sql.sources.partitionOverwriteMode"
    val prev = try Some(spark.conf.get(k)) catch { case _: Exception => None }
    spark.conf.set(k, "static")
    try spark.sql(s"INSERT OVERWRITE $fqn SELECT * FROM $fqn"): Unit
    finally {
      prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      replaceAllGuard = None
    }
  }

  /** PARTITION-SCOPED compaction: rewrite only the partitions matching
    * `pred` (`INSERT INTO … REPLACE WHERE` — Spark plans
    * OverwriteByExpression, [[canMetaReplace]] admits only
    * file-decidable partition predicates, and
    * [[commitOverwriteMatching]] re-validates the replaced set inside
    * the commit round). Every non-matching file survives BYTE-IDENTICAL
    * — at 100 TB this is the only affordable form of maintenance: a
    * hot partition's small-file pileup rewrites that partition, not
    * the table. A predicate the layout can't decide rejects loudly
    * (compacting a value-sliced subset through replace-where would
    * have to rewrite files it can't fully select). */
  private[graft] def compactWhere(spark: org.apache.spark.sql.SparkSession,
      fqn: String, pred: String): Unit = {
    refreshFromDisk()
    // Pin the scanned file set (ADVICE r12, the replaceAllGuard's
    // scoped sibling): the compaction's content is the fold of the
    // files matching `pred` in THIS snapshot — a foreign append into
    // the compacted partition between this scan and the commit would
    // match the predicate, be dropped by the replace, and yet not be
    // in the compaction input: a silently lost commit.
    // commitOverwriteMatching re-derives the matching set each commit
    // round and fails loudly if it differs from the planned one.
    replaceMatchingGuard =
      Some(stateNow.current.map(_.files).getOrElse(Vector.empty))
    try spark.sql(
      s"INSERT INTO $fqn REPLACE WHERE $pred SELECT * FROM $fqn WHERE $pred"
    ): Unit
    finally replaceMatchingGuard = None
  }

  /** BIN-PACKING small-file rewrite (`CALL system.rewrite_small_files`):
    * read ONLY the files below `minBytes` (the `_file` metadata-column
    * predicate prunes the scan to exactly them — the catalog reader
    * keeps id-binding and default backfill correct, which a raw
    * parquet read would not), pack their rows into
    * ceil(bytes/minBytes) outputs, and swap old-for-new in ONE
    * [[commitReplaceFiles]] commit (re-validated against concurrent
    * commits; a crash before the commit leaves only GC-able orphans).
    * Every file at or above the threshold is untouched — at 100 TB
    * the maintenance cost is proportional to the small-file POSTING,
    * not the table, which is what separates this from compact().
    *
    * Restricted to layout-free tables: a round-robin repack would
    * break partition pinning (dynamic-overwrite keys), bucket ids,
    * and sort/z-order spans — clustered tables compact through the
    * write-distribution path (`compact` / `compactWhere`) instead. */
  private[graft] def rewriteSmallFiles(
      spark: org.apache.spark.sql.SparkSession, fqn: String,
      minBytes: Long): (Long, Long, Long) = {
    require(partitionCols.isEmpty && sortColumns.isEmpty &&
        zorderColumns.isEmpty && bucketSpec.isEmpty,
      "rewrite_small_files packs round-robin and would break this " +
        "table's clustering — use system.compact(table[, where]) on " +
        "partitioned/sorted/bucketed tables")
    refreshFromDisk()
    val st = stateNow
    require(st.current.forall(_.deltaFiles.isEmpty),
      "rewrite_small_files on a merge-on-read table requires an empty " +
        "delta log (fences bind by base-file position) — CALL " +
        "system.compact first")
    val small = st.current.map(_.files).getOrElse(Vector.empty)
      .filter(f => f.bytes > 0 && f.bytes < minBytes)
    if (small.size < 2) return (small.size.toLong, 0L, 0L)
    val paths = small.map(_.path)
    val nOut = math.max(1,
      math.ceil(small.map(_.bytes).sum.toDouble / minBytes).toInt)
    import org.apache.spark.sql.functions.col
    val dataCols = schema().fieldNames.map(n => col(s"`$n`")).toIndexedSeq
    val packed = spark.table(fqn)
      .where(col("_file").isin(paths: _*))
      .select(dataCols: _*)
      .repartition(nOut)
    // drive the table's own writer factory directly (the DSv2 write
    // path in miniature): executor tasks write + stat + bloom the new
    // files, the driver folds the commit messages
    val fac = new GraftWriterFactory(dataDir, packed.schema, schema(),
      bloomCols = bloomColumns)
    val refs = packed.queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, it) =>
        val w = fac.createWriter(pid, pid)
        try {
          it.foreach(w.write)
          Iterator.single(w.commit())
        } catch { case e: Throwable => w.abort(); throw e }
      }.collect().toSeq.flatMap {
        case GraftFileCommitMsg(fs) => fs
        case _ => Nil
      }
    commitReplaceFiles(paths.toSet, refs, requireEmptyDelta = true)
    (small.size.toLong, refs.size.toLong, refs.map(_.rows).sum)
  }

  /** Truncate-replace (INSERT OVERWRITE, Complete-mode epochs, MOR
    * compaction). Clears the delta log: stale delete/update entries
    * replaying over the new base would silently drop or rewrite fresh
    * rows. The new content still enters the append log — the stream
    * axis is append-ordered file arrival. */
  private[graft] def commitReplaceAll(files: Seq[GraftFileRef]): Unit =
    commitLoop { () =>
      replaceAllGuard.foreach { case (bases, deltas) =>
        if (curFiles.map(_.path) != bases || curDelta.map(_.path) != deltas)
          throw new IllegalStateException(
            s"concurrent commit conflict on $ident: the table changed " +
              "between the compaction's scan and its commit — the " +
              "planned fold is stale; retry the compaction")
      }
      val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
        files.toVector, Vector.empty)
      val next = state.copy(
        snapshots = retainWindow(state.snapshots :+ snap),
        nextVersion = state.nextVersion + 1,
        appendLog = state.appendLog ++ files)
      // fresh-content replace fences the DV feed; the guarded path is
      // compaction (a content-preserving fold — history stays readable)
      Some(trimAppend(
        if (replaceAllGuard.isEmpty) fenceDvChanges(next) else next))
    }

  /** Fast-forward publish ([[GraftCatalog.fastForward]]): replace the
    * table content with the branch's files — sound ONLY while this
    * table is still exactly at the branch point, re-validated on
    * every commit round so a concurrent commit fails the
    * fast-forward loudly (the would-be lost update) instead of being
    * erased. Clears the MOR delta log like any replace-all: the
    * branch content already folds everything the delta held at the
    * branch point (the version check proves nothing landed since). */
  private[graft] def commitFastForward(expectedVersion: Int,
      files: Seq[GraftFileRef], publishTxnId: String = ""): Unit =
    commitLoop { () =>
      val curV = state.current.map(_.version).getOrElse(-1)
      if (curV != expectedVersion)
        throw new IllegalStateException(
          s"fast_forward on $ident: main is at version $curV but the " +
            s"branch forked at $expectedVersion — the branch has " +
            "diverged from main. MERGE the branch content manually or " +
            "re-branch from the current snapshot.")
      val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
        files.toVector, Vector.empty)
      // publishTxnId non-empty = phase-1 of a multi-table atomic
      // publish: the commit lands CAS-durable but INVISIBLE (readers
      // fold the stamped head out) until the transaction's single
      // `.committed` marker appears — see resolvePublishView
      Some(trimAppend(state.copy(
        snapshots = retainWindow(state.snapshots :+ snap),
        nextVersion = state.nextVersion + 1,
        appendLog = state.appendLog ++ files,
        publishTxn = publishTxnId)))
    }

  /** Group-replacement commit (row-level DML): swap exactly the scanned
    * files for the rewrite output; every other file is carried over
    * UNTOUCHED — the file-granularity copy-on-write contract.
    *
    * CONFLICT VALIDATION (review find): every replaced file must still
    * be current. If a concurrent DML/overwrite already replaced one,
    * committing this rewrite would RE-ADD its carry-over rows next to
    * the concurrent writer's — a silent lost-update that duplicates
    * data. Optimistic concurrency fails the loser loudly instead
    * (Iceberg's validation semantics; the statement can be retried
    * against the new snapshot). */
  private[graft] def commitReplaceFiles(removed: Set[String],
      files: Seq[GraftFileRef],
      requireEmptyDelta: Boolean = false): Unit = commitLoop { () =>
    // re-validation of the planner-side empty-delta gate (ADVICE r14):
    // a DV DELETE / MOR delta committing between rewriteSmallFiles'
    // precondition check and this commit round would pass the path
    // check below (it removes no base files), yet the packed output
    // was folded WITHOUT those tombstones and the vectors now bind to
    // replaced paths — committing would silently resurrect the
    // deleted rows. Same loud retry as the compaction path.
    if (requireEmptyDelta && curDelta.nonEmpty) {
      files.foreach(f => Files.deleteIfExists(Paths.get(f.path)): Unit)
      throw new IllegalStateException(
        s"concurrent commit conflict on $ident: a row-level delta " +
          "committed between this rewrite's scan and its commit — the " +
          "packed output predates those tombstones; CALL " +
          "system.compact and retry")
    }
    val cur = curFiles.map(_.path).toSet
    val gone = removed.diff(cur)
    if (gone.nonEmpty) {
      files.foreach(f => Files.deleteIfExists(Paths.get(f.path)): Unit)
      throw new IllegalStateException(
        s"concurrent commit conflict on $ident: ${gone.size} of the " +
          s"${removed.size} files this rewrite replaces are no longer " +
          "current (another write committed first) — retry the statement")
    }
    val kept = curFiles.filterNot(f => removed.contains(f.path))
    val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
      kept ++ files, curDelta)
    Some(state.copy(snapshots = retainWindow(state.snapshots :+ snap),
      nextVersion = state.nextVersion + 1))
  }

  /** DV `$changes` totality fence (round-16 review find): a commit
    * that replaces the WHOLE table with rows the feed never carried —
    * fresh-content full INSERT OVERWRITE, a truncate-mode streaming
    * epoch, a rollback — makes the ledger's earlier history unusable:
    * a consumer reading across it would apply pre-replacement ops to
    * post-replacement content and silently diverge. Reset the retained
    * window and raise the trim fence to the replacing commit's
    * version, so a bounded read spanning the replacement REFUSES
    * loudly (reseed from a snapshot), a post-replacement from_version
    * serves cleanly, and a lagging streaming checkpoint fails on the
    * offset-base jump. SCOPED replaces don't need the fence: metadata
    * DELETEs and partition-scoped (matching/dynamic) overwrites emit
    * scale-proportional whole-file delete + insert entries instead,
    * and compaction/small-file rewrites are content-preserving folds
    * (spec-pinned: the feed stays readable across compaction). Call
    * on the already-advanced state (nextVersion - 1 = the replacing
    * commit). */
  private def fenceDvChanges(st: GraftTableState): GraftTableState =
    if (tableKind != "dv") st
    else st.copy(changeLog = Vector.empty,
      changeBase = st.changeBase + st.changeLog.size,
      changeTrimVer = math.max(st.changeTrimVer, st.nextVersion - 1))

  /** Change-feed ledger retention — same discipline as the append log:
    * keep the last `appendRetain` delta-file entries, `changeBase`
    * preserves global offset numbering so a lagging stream checkpoint
    * fails loudly instead of silently skipping changes. */
  private def trimChange(st: GraftTableState): GraftTableState =
    if (st.changeLog.size <= appendRetain) st
    else {
      val d = st.changeLog.size - appendRetain
      // record the highest commit version trimmed away: version-bounded
      // incremental reads must refuse a from_version below this fence
      // (the requested range could span changes no longer retained)
      val trimmedVer = st.changeLog.take(d).map(_.ver).max
      st.copy(changeLog = st.changeLog.drop(d), changeBase = st.changeBase + d,
        changeTrimVer = math.max(st.changeTrimVer, trimmedVer))
    }

  /** Deletion-vector commit ([[GraftDvTable]]): vectors enter the
    * delta ledger, inserted rows enter the base file list — ONE
    * snapshot. Validated INSIDE the commit round:
    *   - every base file the vectors reference must still be current —
    *     positions into a file a concurrent compaction/overwrite
    *     rewrote would delete the wrong rows;
    *   - a commit that RE-INSERTS rows (UPDATE/MERGE — `data`
    *     non-empty) must not race another row-level commit tombstoning
    *     the same positions: both would pass the path check, and the
    *     loser's re-insert silently duplicates the row (or resurrects
    *     a concurrently deleted one). Vectors are version-stamped at
    *     commit, so the check folds only vectors newer than this
    *     operation's scan snapshot — O(since-scan tombstones), zero on
    *     the uncontended path. Delete-only commits keep unioning
    *     (tombstoning an already-tombstoned position is idempotent).
    * Both races are a loud retry, never a silent misdelete/duplicate. */
  private[graft] def commitDvDelta(dv: Seq[GraftFileRef],
      data: Seq[GraftFileRef], refPaths: Set[String],
      scanVersion: Int = -1): Unit = commitLoop { () =>
    val cur = curFiles.map(_.path).toSet
    val gone = refPaths.diff(cur)
    if (gone.nonEmpty) {
      (dv ++ data).foreach(f => Files.deleteIfExists(Paths.get(f.path)): Unit)
      throw new IllegalStateException(
        s"concurrent commit conflict on $ident: deletion vectors " +
          s"reference ${gone.size} files that are no longer current " +
          "(another write rewrote them first) — retry the statement")
    }
    if (data.nonEmpty && scanVersion >= 0) {
      val since = curDelta.filter(_.ver > scanVersion)
      // an EQUALITY-delete (upsert) commit since this operation's scan
      // may have superseded rows this UPDATE/MERGE re-inserts — and
      // positions can't be compared against keys, so the race is
      // conservatively loud (the statement retries against the new
      // snapshot and re-reads the upserted state)
      if (since.exists(GraftDvTable.isEqRef)) {
        (dv ++ data).foreach(f =>
          Files.deleteIfExists(Paths.get(f.path)): Unit)
        throw new IllegalStateException(
          s"concurrent commit conflict on $ident: an equality-delete " +
            "upsert committed since this UPDATE/MERGE's scan — " +
            "committing both could duplicate upserted rows; retry the " +
            "statement against the new snapshot")
      }
      val theirVecs = since.filter(GraftDvTable.isVectorRef)
      if (theirVecs.nonEmpty && dv.nonEmpty) {
        val ours = GraftDvTable.foldVectors(dv.toVector)
        val theirs = GraftDvTable.foldVectors(theirVecs)
        val clash = ours.exists { case (p, ps) =>
          theirs.get(p).exists(t =>
            ps.exists(x => java.util.Arrays.binarySearch(t, x) >= 0))
        }
        if (clash) {
          (dv ++ data).foreach(f =>
            Files.deleteIfExists(Paths.get(f.path)): Unit)
          throw new IllegalStateException(
            s"concurrent commit conflict on $ident: another row-level " +
              "commit tombstoned positions this UPDATE/MERGE also " +
              "rewrites — committing both would duplicate or resurrect " +
              "rows; retry the statement against the new snapshot")
        }
      }
    }
    val stamped = dv.map(_.copy(ver = state.nextVersion)).toVector
    val stampedData = data.map(_.copy(ver = state.nextVersion)).toVector
    val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
      curFiles ++ data, curDelta ++ stamped)
    // the change LEDGER records this commit for the `$changes` feed:
    // vector files (positional deletes, resolved to rows at read time)
    // first, then the re-inserted data files — apply order for a CDC
    // consumer. Both carry the commit version, the slicing axis for
    // bounded incremental reads and the consumer's collapse key.
    Some(trimChange(state.copy(
      snapshots = retainWindow(state.snapshots :+ snap),
      nextVersion = state.nextVersion + 1,
      changeLog = state.changeLog ++ stamped ++ stampedData)))
  }

  /** EQUALITY-DELETE upsert commit ([[GraftDvTable]], the Iceberg-v2
    * upsert shape): each task wrote ordinary data files (the new row
    * versions) plus an `eq-` delete file holding the DISTINCT key
    * tuples it upserted — NO position scan happened. The eq entries
    * are FENCED at the pre-commit base-file count: they kill matching
    * rows only in files that existed before this commit, so a batch
    * can never delete its own inserts, and the next epoch's fence
    * covers this one's files. Resolution to positions happens at READ
    * (per-file key-set probe) and at COMPACT (which folds everything
    * away) — write cost is O(batch), the streaming-upsert contract.
    * Streaming epochs dedupe by (queryId, epochId) exactly like
    * [[commitStreamEpoch]]: a replayed epoch drops whole. */
  private[graft] def commitEqDelta(eq: Seq[GraftFileRef],
      data: Seq[GraftFileRef], queryId: String = "",
      epochId: Long = Long.MinValue): Unit = commitLoop { () =>
    if (queryId.nonEmpty &&
        epochId <= state.epochHW.getOrElse(queryId, Long.MinValue)) {
      (eq ++ data).foreach(f =>
        Files.deleteIfExists(Paths.get(f.path)): Unit) // deduped replay
      None
    } else {
      val fence = curFiles.length
      val fencedEq = eq.map(_.copy(fence = fence,
        ver = state.nextVersion)).toVector
      val stampedData = data.map(_.copy(ver = state.nextVersion)).toVector
      val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
        curFiles ++ data, curDelta ++ fencedEq)
      val next = state.copy(
        snapshots = retainWindow(state.snapshots :+ snap),
        nextVersion = state.nextVersion + 1,
        changeLog = state.changeLog ++ fencedEq ++ stampedData)
      Some(trimChange(
        if (queryId.isEmpty) next
        else next.copy(epochHW = next.epochHW + (queryId -> epochId))))
    }
  }

  private[catalog] def commitDelta(delta: Seq[GraftFileRef]): Unit =
    commitLoop { () =>
      // fence each delta file at the CURRENT base-file count: its
      // tombstones/updates supersede only base rows that existed when
      // it committed — later-appended base files are exempt at fold
      val fenced = delta.map(_.copy(fence = curFiles.length))
      val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
        curFiles, curDelta ++ fenced)
      // ledger entries carry their commit version — the slicing axis
      // for version-bounded incremental reads ($changes from/to_version)
      val stamped = fenced.map(_.copy(ver = state.nextVersion))
      Some(trimChange(state.copy(
        snapshots = retainWindow(state.snapshots :+ snap),
        nextVersion = state.nextVersion + 1,
        changeLog = state.changeLog ++ stamped)))
    }

  /** Streaming epoch commit with exactly-once keyed by (queryId,
    * epochId): Spark re-runs an epoch whose sink commit raced a crash,
    * and the replay must drop whole — but a SECOND streaming query
    * (fresh checkpoint, epochs restarting at 0) must NOT be deduped
    * against the first one's high-water mark (ADVICE r9). Complete
    * mode (`truncate`) replaces the table content each epoch instead of
    * appending — accumulating duplicate result rows would corrupt. */
  private[graft] def commitStreamEpoch(queryId: String, epochId: Long,
      files: Seq[GraftFileRef], truncate: Boolean): Unit = commitLoop { () =>
    if (epochId > state.epochHW.getOrElse(queryId, Long.MinValue)) {
      val snap =
        if (truncate)
          GraftSnapshot(state.nextVersion, state.schemaJson, files.toVector,
            Vector.empty)
        else
          GraftSnapshot(state.nextVersion, state.schemaJson,
            curFiles ++ files, curDelta)
      val next = state.copy(
        snapshots = retainWindow(state.snapshots :+ snap),
        nextVersion = state.nextVersion + 1,
        appendLog = state.appendLog ++ files,
        epochHW = state.epochHW + (queryId -> epochId))
      // streaming appends into a DV table are changes too (same
      // totality contract as commitAppend); truncate mode replaces the
      // whole content — not representable as row-level ops, so it
      // FENCES the feed (a read across it refuses; a consumer reseeds
      // from the snapshot — silent divergence was the review find)
      Some(trimAppend(
        if (tableKind == "dv" && !truncate)
          trimChange(next.copy(changeLog = next.changeLog ++
            files.map(_.copy(ver = state.nextVersion))))
        else if (truncate) fenceDvChanges(next)
        else next))
    } else {
      files.foreach(f =>
        Files.deleteIfExists(Paths.get(f.path)): Unit) // deduped replay
      None
    }
  }

  /** ALTER TABLE ADD COLUMN: a schema commit. Existing files simply
    * predate the column (their `cols` list lacks it) and backfill null
    * at read; older snapshots keep their own schema for time travel.
    * The new column gets a FRESH field id — if a same-named column was
    * dropped earlier, old files' data stays dead (id mismatch). */
  private[catalog] def alterAddColumn(f: StructField): Unit = commitLoop { () =>
    GraftStorage.validate(StructType(Array(f)))
    require(!f.name.equalsIgnoreCase("_file"),
      "column name _file is reserved by the graft catalog")
    val cur = state.schema
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(f.name)),
      s"column ${f.name} already exists in ${cur.catalogString}")
    val (stamped, nextId) =
      if (state.nextFieldId > 0)
        (GraftStorage.withFieldId(f, state.nextFieldId),
          state.nextFieldId + 1)
      else (f, 0) // legacy pre-id table: stays name-bound
    val ns = StructType(cur.fields :+ stamped)
    val snap = GraftSnapshot(state.nextVersion, ns.json, curFiles, curDelta)
    Some(state.copy(schemaJson = ns.json,
      snapshots = retainWindow(state.snapshots :+ snap),
      nextVersion = state.nextVersion + 1,
      nextFieldId = nextId))
  }

  /** NESTED ADD COLUMN (`ALTER TABLE t ADD COLUMN parent.child <type>`):
    * append a subfield to a struct — the struct itself, an
    * array-of-struct's element, or a map's struct value — as a PURE
    * METADATA commit. Old files lack the leaf; the reader CLIPS its
    * parquet request per file ([[GraftStorage]] `ReadSupport.init`)
    * and binds clipped children back to the wanted struct by NAME, so
    * pre-ADD rows read the subfield as null. At 100 TB this is the
    * chunk-store evolution story: annotating every element of a
    * nested corpus without rewriting a byte. Nested subfields carry no
    * field ids — they bind by name — so nested RENAME/DROP stay loud
    * rejects (resurrection hazards need the id machinery); defaults on
    * nested adds are likewise rejected (backfill is null). */
  private[catalog] def alterAddNestedColumn(path: Seq[String],
      f: StructField): Unit = commitLoop { () =>
    GraftStorage.validate(StructType(Array(f)))
    val cur = state.schema
    val full = (path :+ f.name).mkString(".")
    def extend(st: StructType): StructType = {
      require(!st.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"subfield ${f.name} already exists at " +
          s"${path.mkString(".")}: ${st.catalogString}")
      StructType(st.fields :+ f)
    }
    // walk the path to the enclosing struct — `element` descends an
    // array, `value` a map's value; any other step a struct field —
    // so adds compose to any nesting depth, mirroring the reader's
    // recursive per-file clipping
    def addAt(dt: org.apache.spark.sql.types.DataType,
        rest: List[String]): org.apache.spark.sql.types.DataType =
      (dt, rest) match {
        case (st: StructType, Nil) => extend(st)
        case (st: StructType, p :: more) =>
          val o = GraftStorage.ordinalByName(st.fieldNames.toIndexedSeq, p)
          require(o >= 0,
            s"ADD COLUMN $full: no subfield $p in ${st.catalogString}")
          StructType(st.fields.updated(o,
            st.fields(o).copy(dataType =
              addAt(st.fields(o).dataType, more))))
        case (org.apache.spark.sql.types.ArrayType(e, n),
            "element" :: more) =>
          org.apache.spark.sql.types.ArrayType(addAt(e, more), n)
        case (org.apache.spark.sql.types.MapType(kt, vt, n),
            "value" :: more) =>
          org.apache.spark.sql.types.MapType(kt, addAt(vt, more), n)
        case (other, _) => throw new UnsupportedOperationException(
          s"ADD COLUMN $full: cannot descend ${other.catalogString} " +
            s"with ${rest.mkString(".")} — nested adds land in a " +
            "struct, array-of-struct, or map-of-struct")
      }
    val po = GraftStorage.ordinalByName(cur.fieldNames.toIndexedSeq,
      path.head)
    require(po >= 0, s"column ${path.head} not in ${cur.catalogString}")
    val pf = cur.fields(po)
    val ns = StructType(cur.fields.updated(po,
      pf.copy(dataType = addAt(pf.dataType, path.tail.toList))))
    val snap = GraftSnapshot(state.nextVersion, ns.json, curFiles, curDelta)
    Some(state.copy(schemaJson = ns.json,
      snapshots = retainWindow(state.snapshots :+ snap),
      nextVersion = state.nextVersion + 1))
  }

  /** Column names a schema change must never touch: partition and sort
    * columns (the physical layout is keyed on them — the table would
    * need a rewrite, not a metadata commit); the MOR subclass adds the
    * row-id column. */
  protected def evolutionProtected: Seq[String] =
    partFields.map(_.col) ++ sortCols ++ zorderCols ++
      bucketBy.map(_._1).toSeq ++ bloomCols ++ generatedEvolutionLocked

  /** Generated columns and the columns their expressions reference:
    * renaming/dropping either would break the stored generation SQL —
    * loud reject, never a definition that silently stops resolving. */
  private def generatedEvolutionLocked: Seq[String] = {
    val spec = generatedColSpec
    if (spec.isEmpty) return Nil
    val sch = state.schema
    val own = spec.map { case (i, _) => sch.fieldNames(i) }
    val refs =
      try {
        val spark = org.apache.spark.sql.SparkSession.active
        spec.flatMap { case (_, sql) =>
          org.apache.spark.sql.graftshims.GraftShims
            .rowExpressionReferences(spark, sch, sql)
        }
      } catch { case _: Exception => Nil } // no session: protect own only
    own ++ refs
  }

  /** Reserved names a RENAME target must avoid; MOR adds its markers. */
  protected def evolutionReservedNames: Seq[String] = Seq("_file")

  private def requireFieldIds(cur: StructType, o: Int, what: String): Unit =
    require(state.nextFieldId > 0 &&
        GraftStorage.fieldId(cur.fields(o)).isDefined,
      s"$what requires field ids, which this table predates " +
        "(tables created before field-id stamping stay name-bound; " +
        "recreate via CTAS to evolve the schema)")

  /** ALTER TABLE DROP COLUMN: a schema commit — files are untouched
    * (the dropped column's bytes die at the next compaction); readers
    * simply never request the field again, and time travel to pre-DROP
    * versions replays it. */
  private[catalog] def alterDropColumn(name: String): Unit = commitLoop { () =>
    val cur = state.schema
    val o = GraftStorage.ordinalByName(cur.fieldNames.toIndexedSeq, name)
    require(o >= 0, s"column $name not found in ${cur.catalogString}")
    val resolved = cur.fieldNames(o)
    requireFieldIds(cur, o, "DROP COLUMN")
    require(cur.length > 1, "cannot drop the table's only column")
    require(!evolutionProtected.exists(_.equalsIgnoreCase(resolved)),
      s"cannot drop $resolved: it is a partition/sort/row-id column — " +
        "the physical layout is keyed on it")
    val ns = StructType(cur.fields.patch(o, Nil, 1))
    val snap = GraftSnapshot(state.nextVersion, ns.json, curFiles, curDelta)
    Some(state.copy(schemaJson = ns.json,
      snapshots = retainWindow(state.snapshots :+ snap),
      nextVersion = state.nextVersion + 1))
  }

  /** ALTER TABLE RENAME COLUMN: a schema commit — the field KEEPS its
    * id, so every existing file (which recorded the old spelling) still
    * binds, stats-prunes, and folds correctly; only the schema-facing
    * name changes. */
  private[catalog] def alterRenameColumn(name: String,
      newName: String): Unit = commitLoop { () =>
    val cur = state.schema
    val o = GraftStorage.ordinalByName(cur.fieldNames.toIndexedSeq, name)
    require(o >= 0, s"column $name not found in ${cur.catalogString}")
    val resolved = cur.fieldNames(o)
    requireFieldIds(cur, o, "RENAME COLUMN")
    require(!evolutionProtected.exists(_.equalsIgnoreCase(resolved)),
      s"cannot rename $resolved: it is a partition/sort/row-id column — " +
        "catalog metadata and downstream bindings are keyed on its name")
    require(!evolutionReservedNames.exists(_.equalsIgnoreCase(newName)),
      s"column name $newName is reserved by the graft catalog")
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column $newName already exists in ${cur.catalogString}")
    val ns = StructType(cur.fields.updated(o,
      cur.fields(o).copy(name = newName)))
    val snap = GraftSnapshot(state.nextVersion, ns.json, curFiles, curDelta)
    Some(state.copy(schemaJson = ns.json,
      snapshots = retainWindow(state.snapshots :+ snap),
      nextVersion = state.nextVersion + 1))
  }

  /** ALTER TABLE ALTER COLUMN c FIRST / AFTER other: a pure METADATA
    * commit permuting the schema's field order. Sound because every
    * reader binds columns by stable field id / write-time name (base
    * files, MOR delta files, the fold, time travel — pre-move versions
    * replay the old order) and every writer projects by name; nothing
    * in the storage layer is ordinal-keyed across commits. */
  private[catalog] def alterMoveColumn(name: String,
      position: org.apache.spark.sql.connector.catalog.TableChange.ColumnPosition)
      : Unit = commitLoop { () =>
    import org.apache.spark.sql.connector.catalog.TableChange.{After, First}
    val cur = state.schema
    val o = GraftStorage.ordinalByName(cur.fieldNames.toIndexedSeq, name)
    require(o >= 0, s"column $name not found in ${cur.catalogString}")
    requireFieldIds(cur, o, "ALTER COLUMN position")
    val fld = cur.fields(o)
    val rest = cur.fields.patch(o, Nil, 1)
    val reordered = position match {
      case _: First => fld +: rest
      case a: After =>
        val ao = GraftStorage.ordinalByName(
          rest.map(_.name).toIndexedSeq, a.column())
        require(ao >= 0, s"AFTER column ${a.column()} not found " +
          s"(or is $name itself) in ${cur.catalogString}")
        (rest.take(ao + 1) :+ fld) ++ rest.drop(ao + 1)
      case other => throw new UnsupportedOperationException(
        s"unknown column position $other")
    }
    val ns = StructType(reordered)
    val snap = GraftSnapshot(state.nextVersion, ns.json, curFiles, curDelta)
    Some(state.copy(schemaJson = ns.json,
      snapshots = retainWindow(state.snapshots :+ snap),
      nextVersion = state.nextVersion + 1))
  }

  /** ALTER TABLE ALTER COLUMN TYPE: WIDENING only (INT->BIGINT,
    * FLOAT->DOUBLE, DECIMAL(p,s)->DECIMAL(p+,s)) — a pure metadata
    * commit. Existing files keep their narrow physical type; the
    * reader decodes each file at ITS OWN type and upcasts (see
    * RowReadSupport), so old and new files mix freely in one scan,
    * the MOR fold, the change feed, and time travel (pre-widen
    * versions replay the narrow schema). Anything non-widening is a
    * loud reject — silent narrowing or scale changes would corrupt
    * readers. The FLOAT case additionally re-encodes live refs'
    * min/max strings through the exact numeric conversion: pruning a
    * DOUBLE predicate against a float-printed string could otherwise
    * drop a file that contains the value. */
  private[catalog] def alterWidenColumn(name: String,
      to: org.apache.spark.sql.types.DataType): Unit = commitLoop { () =>
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType,
      IntegerType, LongType}
    val cur = state.schema
    val o = GraftStorage.ordinalByName(cur.fieldNames.toIndexedSeq, name)
    require(o >= 0, s"column $name not found in ${cur.catalogString}")
    val resolved = cur.fieldNames(o)
    requireFieldIds(cur, o, "ALTER COLUMN TYPE")
    require(!evolutionProtected.exists(_.equalsIgnoreCase(resolved)),
      s"cannot change the type of $resolved: it is a partition/sort/" +
        "bucket/row-id column — the physical layout is keyed on it")
    val from = cur.fields(o).dataType
    val legal = (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision > a.precision &&
          b.precision <= DecimalType.MAX_PRECISION
      case _ => false
    }
    require(legal, "ALTER COLUMN TYPE supports widening only " +
      "(INT->BIGINT, FLOAT->DOUBLE, DECIMAL(p,s)->DECIMAL(p+,s)): " +
      s"$resolved is ${from.catalogString}, requested ${to.catalogString}")
    val fid = GraftStorage.fieldId(cur.fields(o)).getOrElse(-1)
    val fix: GraftFileRef => GraftFileRef =
      if (from == FloatType) GraftStorage.refloatStats(_, fid, resolved)
      else identity
    val ns = StructType(cur.fields.updated(o,
      cur.fields(o).copy(dataType = to)))
    val snap = GraftSnapshot(state.nextVersion, ns.json,
      curFiles.map(fix), curDelta.map(fix))
    Some(state.copy(schemaJson = ns.json,
      snapshots = retainWindow(state.snapshots :+ snap),
      nextVersion = state.nextVersion + 1,
      appendLog = state.appendLog.map(fix),
      changeLog = state.changeLog.map(fix)))
  }

  /** Tag the CURRENT content under `name` (VERDICT r11 item 7,
    * Iceberg's snapshot tags): appends a content-identical snapshot
    * and pins it against retention, so `VERSION AS OF '<name>'`
    * resolves to it until the tag is re-pointed. Re-tagging an
    * existing name MOVES it — that re-point IS the publish step of
    * write-audit-publish: readers querying the tag stay on the old
    * snapshot through any number of staged writes until the audit
    * passes and the tag moves. Returns the tagged version. */
  private[graft] def tagVersion(name: String): Int = {
    require(name.nonEmpty && name.toIntOption.isEmpty,
      s"tag name '$name' must not be a bare integer " +
        "(integers are version numbers)")
    var tagged = -1
    commitLoop { () =>
      tagged = state.nextVersion
      val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
        curFiles, curDelta)
      Some(state.copy(
        snapshots = retainWindow(state.snapshots :+ snap),
        nextVersion = state.nextVersion + 1,
        tags = state.tags + (name -> tagged)))
    }
    tagged
  }

  // ---- CHECK constraints (DSv2 SUPPORT_TABLE_CONSTRAINT) ---------------
  // Spark's ResolveTableConstraints compiles every enforced CHECK from
  // constraints() into each write (CheckInvariant — a violating row
  // fails the job before any file is committed); ALTER TABLE ADD
  // CONSTRAINT additionally scans existing rows first
  // (AddCheckConstraintExec) and hands us validatedTableVersion. The
  // catalog's job is durable storage and re-exposure.

  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    state.checks.map { c =>
      import org.apache.spark.sql.connector.catalog.constraints.Constraint
      val b = Constraint.check(c.name)
      b.predicateSql(c.sql)
      b.enforced(true)
      b.validationStatus(
        if (c.validated) Constraint.ValidationStatus.VALID
        else Constraint.ValidationStatus.UNVALIDATED)
      b.build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  private[catalog] def addCheck(c: GraftCheck): Unit = commitLoop { () =>
    require(!state.checks.exists(_.name.equalsIgnoreCase(c.name)),
      s"constraint ${c.name} already exists on $ident")
    // a constraint change is a commit like any DDL: content-identical
    // snapshot, nextVersion bumped (the CAS publishes AT nextVersion)
    val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
      curFiles, curDelta)
    Some(state.copy(checks = state.checks :+ c,
      snapshots = retainWindow(state.snapshots :+ snap),
      nextVersion = state.nextVersion + 1))
  }

  private[catalog] def dropCheck(name: String, ifExists: Boolean): Unit =
    commitLoop { () =>
      val kept = state.checks.filterNot(_.name.equalsIgnoreCase(name))
      if (kept.size == state.checks.size) {
        require(ifExists, s"constraint $name not found on $ident " +
          s"(defined: ${if (state.checks.isEmpty) "<none>"
            else state.checks.map(_.name).mkString(", ")})")
        None
      } else {
        val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
          curFiles, curDelta)
        Some(state.copy(checks = kept,
          snapshots = retainWindow(state.snapshots :+ snap),
          nextVersion = state.nextVersion + 1))
      }
    }

  /** CALL system.rollback: restore the table's CONTENT to a retained
    * version (by number or tag) as a NEW commit — history is
    * preserved, the bad commits stay inspectable, and the operation
    * is itself revertible (Iceberg's rollback_to_snapshot). The
    * CURRENT schema is kept (data state reverts, DDL does not —
    * field-id binding reads the restored files under today's names
    * and widened types); the restored snapshot's base AND delta file
    * lists come back verbatim, so a MOR fold replays exactly the
    * target's row state. Only RETAINED versions are restorable —
    * their files are provably un-GC'd; anything else errors loudly. */
  private[graft] def rollbackTo(label: String): Int = {
    var target = -1
    commitLoop { () => // commitLoop refreshes from disk per round
      val v = state.tags.get(label).orElse(label.toIntOption).getOrElse(
        throw new IllegalStateException(
          s"rollback target '$label' is neither a tag nor a version " +
            s"number on $ident"))
      val snap = state.snapshots.find(_.version == v).getOrElse(
        throw new IllegalStateException(
          s"version $v of $ident is not retained " +
            s"(retained: ${state.snapshots.map(_.version).mkString(", ")})"))
      target = v
      val ns = GraftSnapshot(state.nextVersion, state.schemaJson,
        snap.files, snap.deltaFiles)
      // a rollback rewrites history: ops after the target never
      // happened — fence the DV feed so a consumer cannot apply them
      Some(fenceDvChanges(state.copy(
        snapshots = retainWindow(state.snapshots :+ ns),
        nextVersion = state.nextVersion + 1)))
    }
    target
  }

  /** `VERSION AS OF '<tag>'` resolution. Unknown tags error loudly. */
  private[catalog] def snapshotAtTag(label: String): Table = synchronized {
    refreshFromDisk()
    state.tags.get(label) match {
      case Some(v) => snapshotAt(v)
      case None => throw new IllegalStateException(
        s"tag '$label' not found on $ident " +
          s"(tags: ${if (state.tags.isEmpty) "<none>"
            else state.tags.keys.toSeq.sorted.mkString(", ")})")
    }
  }

  /** Read-only view pinned to commit `v` (time travel). Expired and
    * future versions are LOUD errors. */
  private[catalog] def snapshotAt(v: Int): Table = synchronized {
    refreshFromDisk()
    // publish-resolved view: an in-flight/aborted transaction's head
    // must not be time-travel-readable before its commit marker
    val win = stateNow.snapshots
    // range-check against the RESOLVED view's max, not raw nextVersion:
    // an in-flight/aborted publish head sits below nextVersion but is
    // not visible — bounding with the unresolved counter would pass the
    // range check and then fail with a misleading "expired" message
    val maxVisible = win.lastOption.map(_.version).getOrElse(-1)
    require(v >= 0 && v <= maxVisible,
      s"version $v out of range [0, ${maxVisible + 1})")
    win.find(_.version == v) match {
      case Some(snap) => new GraftSnapshotTable(s"$ident@v$v", this, snap)
      case None => throw new IllegalStateException(
        s"version $v of $ident has expired (retained: " +
          s"[${win.headOption.map(_.version).getOrElse(-1)}, " +
          s"${win.lastOption.map(_.version).getOrElse(-1)}]; " +
          s"retention keeps the last $retain commits)")
    }
  }

  /** `TIMESTAMP AS OF` resolution — see the catalog-side scaladoc. */
  private[catalog] def snapshotAsOfTime(tMillis: Long): Table = synchronized {
    refreshFromDisk()
    val win = stateNow.snapshots
    require(win.nonEmpty, s"$ident has no commits to time-travel to")
    win.filter(_.tsMillis <= tMillis).lastOption match {
      case Some(snap) =>
        new GraftSnapshotTable(s"$ident@t$tMillis", this, snap)
      case None => throw new IllegalStateException(
        s"timestamp $tMillis predates the retained history of $ident " +
          s"(earliest retained commit: ${win.head.tsMillis}; " +
          s"retention keeps the last $retain commits)")
    }
  }

  /** Table-kind-specific additions to the GC live set: paths that are
    * not referenced by any retained snapshot/ledger entry directly but
    * that a retained ledger entry RESOLVES AGAINST at read time. The
    * DV table keeps the base files its retained change-ledger vectors
    * point into (delete-rows are materialized from them). */
  protected def gcExtraLive(st: GraftTableState): Set[String] = Set.empty

  /** Maintenance GC: delete data files referenced by NO retained
    * snapshot and absent from the append log (rewrite-superseded files
    * whose snapshots have expired). Never runs implicitly — like
    * Iceberg's `expire_snapshots`, reclaiming space is an explicit
    * operation with a retention contract, because a scan planned
    * against a still-retained snapshot must never lose files. */
  private[graft] def expireOrphanFiles(
      graceMs: Long = GraftTable.GcGraceMs): Int = synchronized {
    refreshFromDisk()
    val live: Set[String] =
      (state.snapshots.flatMap(s =>
        s.files.map(_.path) ++ s.deltaFiles.map(_.path)) ++
        state.appendLog.map(_.path) ++
        state.changeLog.map(_.path)).toSet ++ // feed history stays readable
        gcExtraLive(state) // + files the feed resolves AGAINST (DV bases)
    // grace window (ADVICE r10; Iceberg's remove_orphan_files
    // older-than cutoff): a writer TASK's in-flight file is on disk
    // before its commit references it — sweeping by reference alone
    // would delete it mid-write and fail or corrupt that commit. Files
    // younger than the grace window are never swept; 0 means "I know
    // no write is in flight" (tests, single-writer maintenance).
    val cutoff = System.currentTimeMillis() - graceMs
    def sweep(sub: String): Int = {
      val d = dir.resolve(sub)
      if (!Files.exists(d)) 0
      else {
        val victims = graft.util.Fs.children(d)
          .filter(p => p.toString.endsWith(".parquet") &&
            !live.contains(p.toAbsolutePath.toString) &&
            Files.getLastModifiedTime(p).toMillis <= cutoff)
        victims.foreach(p => Files.deleteIfExists(p): Unit)
        // the per-file fold memos key on path: a deleted file's entry
        // can never hit again — drop it now instead of waiting for
        // LRU aging (round-18, guide §5 driver heap)
        val gone = victims.map(_.toAbsolutePath.toString).toSet
        if (gone.nonEmpty) {
          GraftDvTable.invalidateFoldCache(gone)
          GraftDeltaTable.invalidateFoldCache(gone)
        }
        victims.size
      }
    }
    // data files AND delta files: a compaction clears the logical log,
    // and once its snapshots expire the delta parquet is unreferenced
    sweep("data") + sweep("delta")
  }

  // ---- read path -------------------------------------------------------
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    refreshFromDisk() // observe foreign-process commits at plan time
    val s = stateNow  // publish-transaction-resolved view (round 16)
    readScan(s.schema, s.current.map(_.files).getOrElse(Vector.empty),
      s.current.map(_.deltaFiles).getOrElse(Vector.empty), options,
      live = true)
  }

  /** The deletes a read of `files` applies, given the same snapshot's
    * delta files — the one per-kind read hook. Copy-on-write has none;
    * a DV table folds its vectors and equality deletes, a merge-on-read
    * table its delta log. `live` marks a read of the current snapshot
    * (a table read or a DML scan), the reads a kind may bound; a
    * time-travel view is never refused. */
  protected def readDeletes(schema: StructType, files: Vector[GraftFileRef],
      delta: Vector[GraftFileRef], live: Boolean): Option[GraftDeletes] =
    None

  /** The one table read path: the live table, a DV DML scan and every
    * time-travel view build their [[GraftScanBuilder]] here, over the
    * kind's [[readDeletes]]. Only a kind that streams its append log
    * hands the scan its stream hook and admission options. A view
    * passes no layout columns: the bucket or partition spec may have
    * changed since its snapshot. `positional`: the scan emits `_pos`
    * even with nothing deleted (a DV rewrite keys its rows on it). */
  private[catalog] def readScan(schema: StructType,
      files: Vector[GraftFileRef], delta: Vector[GraftFileRef],
      options: CaseInsensitiveStringMap, live: Boolean,
      positional: Boolean = false): ScanBuilder = {
    val deletes = readDeletes(schema, files, delta, live)
    val streams = live &&
      capabilities().contains(TableCapability.MICRO_BATCH_READ)
    new GraftScanBuilder(schema, files, if (streams) Some(this) else None,
      if (live) partCols else Nil, if (live) bucketBy else None,
      if (live) sortCols ++ zorderCols else Nil,
      if (streams) GraftAdmission.fromOptions(options) else GraftAdmission(),
      posColumn = metadataColumns().exists(_.name == "_pos"),
      deletes = if (positional) deletes.orElse(Some(GraftDeletes.none))
        else deletes)
  }

  // ---- plain write path (INSERT INTO / INSERT OVERWRITE) ---------------
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(this, info.schema(), info.queryId(),
      GraftWriteBuilder.Append)

  // ---- metadata-only DELETE (SupportsDeleteV2) -------------------------
  // Iceberg's metadata-delete fast path: when the DELETE condition is
  // DECIDABLE per file from stats — every current file either provably
  // full-matches (partition files pin min == max, no nulls) or provably
  // cannot match — Spark's OptimizeMetadataOnlyDeleteFromTable swaps
  // the whole copy-on-write rewrite for a commit that drops the
  // matching files from the snapshot. Zero data I/O: a
  // partition-sliced DELETE over 100 TB becomes an O(files) metadata
  // operation. Any undecidable file makes canDeleteWhere answer false
  // and the row-level rewrite runs instead (correct, just not free).

  private def decidable(files: Vector[GraftFileRef],
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    files.forall(f =>
      predicates.forall(GraftV2Preds.mustMatchAll(state.schema, f, _)) ||
        predicates.exists(!GraftV2Preds.mayMatch(state.schema, f, _)))

  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    decidable(curFiles, predicates)

  // Re-checks the OVERRIDABLE canDeleteWhere INSIDE the commit round
  // (ADVICE r11 hardening of the r10 fix): the MOR subclass
  // additionally requires an empty delta log, and a FOREIGN delta
  // commit can land after a lost CAS — the retry rebases onto state
  // WITH a live delta log, and a gate checked only before the loop
  // would let the retry drop base files while delta fences mis-bind
  // to shifted file indexes. Re-running the gate (and recomputing the
  // victim set) against each round's refreshed state flips such a
  // statement back to a loud retry-the-statement error instead.
  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    commitLoop { () =>
      require(canDeleteWhere(predicates),
        "deleteWhere precondition no longer holds (undecidable predicate " +
          "set, or a concurrent commit changed the table) — retry the " +
          "statement")
      val removedRefs = curFiles.filter(f =>
        predicates.forall(GraftV2Preds.mustMatchAll(state.schema, f, _)))
      val removed = removedRefs.map(_.path).toSet
      val kept = curFiles.filterNot(f => removed.contains(f.path))
      val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
        kept, curDelta)
      val next = state.copy(
        snapshots = retainWindow(state.snapshots :+ snap),
        nextVersion = state.nextVersion + 1)
      // DV feed totality (round-16 review find): a stats-decidable
      // DELETE drops whole files with no vectors — record each dropped
      // file in the change ledger tagged whole-file-delete, so the
      // feed streams its rows as op-2 deletes. Cost O(deleted rows) —
      // exactly proportional to the DELETE itself.
      Some(
        if (tableKind == "dv" && removedRefs.nonEmpty)
          trimChange(next.copy(changeLog = next.changeLog ++
            removedRefs.map(_.copy(
              fence = GraftDvTable.WholeFileDeleteTag,
              ver = state.nextVersion))))
        else next)
    }

  override def truncateTable(): Boolean = { commitReplaceAll(Nil); true }

  /** Can a predicate-scoped overwrite/delete run at METADATA level?
    * (Same decidability test; MOR overrides to require an empty delta
    * log — see [[GraftDeltaTable.canDeleteWhere]].) */
  private[catalog] def canMetaReplace(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    canDeleteWhere(predicates)

  /** Predicate-scoped overwrite (INSERT OVERWRITE ... PARTITION (...)):
    * drop the files the predicate provably covers, append the new
    * content. Decidability was checked at plan time and is re-verified
    * under the lock (a concurrent append could land a mixed file). */
  private[graft] def commitOverwriteMatching(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate],
      files: Seq[GraftFileRef]): Unit = commitLoop { () =>
    // the OVERRIDABLE gate, re-checked inside the commit round: MOR
    // additionally requires an empty delta log (stale delta entries
    // replaying over swapped partition files would corrupt)
    require(canMetaReplace(predicates),
      "overwrite precondition no longer holds at commit time " +
        "(undecidable predicate, or a concurrent delta commit) — " +
        "retry the statement")
    def matching(fs: Vector[GraftFileRef]): Vector[String] =
      fs.filter(f =>
        predicates.forall(GraftV2Preds.mustMatchAll(state.schema, f, _)))
        .map(_.path)
    // compactWhere's pin (ADVICE r12): the replaced set must be exactly
    // the set the compaction scanned — re-derived per commit round, so
    // a CAS retry that rebased onto a foreign commit re-validates too
    replaceMatchingGuard.foreach { planned =>
      if (matching(planned) != matching(curFiles))
        throw new IllegalStateException(
          s"concurrent commit conflict on $ident: the predicate-" +
            "matching file set changed between the scoped compaction's " +
            "scan and its commit (a foreign append into the compacted " +
            "partition, or a foreign delete of a scanned file) — " +
            "publishing the stale fold would lose that commit. Retry " +
            "system.compact.")
    }
    val replaced = curFiles.filter(f =>
      predicates.forall(GraftV2Preds.mustMatchAll(state.schema, f, _)))
    val kept = curFiles.filterNot(f =>
      predicates.forall(GraftV2Preds.mustMatchAll(state.schema, f, _)))
    val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
      kept ++ files, curDelta)
    val next = state.copy(
      snapshots = retainWindow(state.snapshots :+ snap),
      nextVersion = state.nextVersion + 1,
      appendLog = state.appendLog ++ files)
    // DV feed: a predicate-SCOPED replace is scale-proportional, so it
    // stays feed-visible — the replaced files stream as whole-file
    // delete-rows and the fresh files as inserts, one version. The
    // guarded path (partition-scoped compaction) is a content-
    // preserving fold: no entries, no fence.
    Some(trimAppend(
      if (replaceMatchingGuard.nonEmpty || tableKind != "dv") next
      else trimChange(next.copy(changeLog = next.changeLog ++
        replaced.map(_.copy(fence = GraftDvTable.WholeFileDeleteTag,
          ver = state.nextVersion)) ++
        files.map(_.copy(ver = state.nextVersion))))))
  }

  /** Dynamic-partition overwrite: replace exactly the partitions the
    * written data touches (each new file's partition values are pinned
    * by its stats — the writer's single-value-per-file split makes the
    * partition key recoverable from metadata alone). Unpartitioned
    * tables degrade to a full replace, matching the file sources. */
  /** Validation hook for partition-scoped dynamic overwrite, re-run
    * inside each commit round; MOR overrides to demand an empty delta
    * log (a full-table dynamic overwrite degrades to replace-all, which
    * clears the log and needs no gate). */
  protected def validateDynamicOverwrite(): Unit = ()

  private[catalog] def commitOverwriteDynamic(files: Seq[GraftFileRef]): Unit =
    if (partCols.isEmpty) commitReplaceAll(files)
    else commitLoop { () =>
      validateDynamicOverwrite()
      // every field keys by the file's PINNED partition value: identity
      // demands min == max, a transform demands min and max in the SAME
      // transform bucket (what the partition-splitting writer
      // guarantees). A file that does NOT pin — written before a
      // partition-spec retune, or foreign — fails LOUDLY: keying it by
      // its min would replace the whole file as if it belonged to one
      // partition and silently drop every other partition's rows in it
      // (the lost-update partition evolution would otherwise invite).
      val schemaNow = state.schema
      val names = schemaNow.fieldNames.toIndexedSeq
      def key(f: GraftFileRef): Seq[Option[Any]] =
        partFields.map { pf =>
          val o = GraftStorage.ordinalByName(names, pf.col)
          val dt = schemaNow.fields(o).dataType
          f.stats.get(pf.col).flatMap { s =>
            (s.min, s.max) match {
              case (Some(mn), Some(mx)) =>
                require(s.nulls == 0,
                  s"dynamic overwrite on ${name()}: file ${f.path} " +
                    s"mixes null and non-null ${pf.col} values — not " +
                    "partition-keyed; CALL system.compact to re-split " +
                    "it under the current partition spec")
                val kmin = pf.eval(dt, GraftStorage.statFromString(dt, mn))
                val kmax = pf.eval(dt, GraftStorage.statFromString(dt, mx))
                require(kmin == kmax,
                  s"dynamic overwrite on ${name()}: file ${f.path} " +
                    s"spans multiple ${pf.encoded} partitions " +
                    s"($kmin..$kmax) — written before the current " +
                    "partition spec? CALL system.compact to re-split " +
                    "it, then retry")
                Some(kmin)
              case _ => None // all-null partition value
            }
          }
        }
      val newKeys = files.map(key).toSet
      val replaced = curFiles.filter(f => newKeys.contains(key(f)))
      val kept = curFiles.filterNot(f => newKeys.contains(key(f)))
      val snap = GraftSnapshot(state.nextVersion, state.schemaJson,
        kept ++ files, curDelta)
      val next = state.copy(
        snapshots = retainWindow(state.snapshots :+ snap),
        nextVersion = state.nextVersion + 1,
        appendLog = state.appendLog ++ files)
      // DV feed: a dynamic overwrite replaces exactly the touched
      // partitions — scale-proportional, so it stays feed-visible
      // (replaced files as whole-file delete-rows, fresh as inserts)
      Some(trimAppend(
        if (tableKind != "dv") next
        else trimChange(next.copy(changeLog = next.changeLog ++
          replaced.map(_.copy(fence = GraftDvTable.WholeFileDeleteTag,
            ver = state.nextVersion)) ++
          files.map(_.copy(ver = state.nextVersion))))))
    }

  // ---- row-level DML (MERGE / UPDATE / DELETE) -------------------------
  // Group-based (no SupportsDelta): Catalyst rewrites the DML into a
  // ReplaceData plan — scan the affected groups, compute the replacement
  // row set, write it back. Groups are FILES: the operation instance
  // links the scan (which records the files it selected, after stats
  // pruning on the pushed DML condition) to the write (whose commit
  // replaces exactly those files).
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new GraftRowLevelOp(this, info)
}

/** The shared scan<->write state of one group-based row-level rewrite:
  * the scan's `build()` records which files survived group pruning; the
  * paired write's commit replaces exactly those. */
class GraftRowLevelOp(table: GraftTable, info: RowLevelOperationInfo)
    extends RowLevelOperation {
  // the snapshot the WHOLE operation runs against (scan and replace must
  // agree on the file set even if a concurrent append lands mid-plan)
  private[catalog] val snapshot = table.stateNow
  @volatile private[catalog] var selected: Vector[GraftFileRef] =
    snapshot.current.map(_.files).getOrElse(Vector.empty)
  private[catalog] def partitionCols: Seq[String] = table.partitionCols

  override def command(): RowLevelOperation.Command = info.command()

  // GROUP-scan builder — never the row-filtering one: a copy-on-write
  // rewrite must read EVERY row of the replaced groups (the non-matching
  // rows are the carry-over that survives the DML), but Spark pushes the
  // DML condition into this scan for GROUP pruning. Filters select
  // FILES; none are ever applied to rows (spec-pinned: UPDATE keeps
  // untouched rows).
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftGroupScanBuilder(snapshot.schema,
      snapshot.current.map(_.files).getOrElse(Vector.empty), this)

  override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(table, winfo.schema(), winfo.queryId(),
      GraftWriteBuilder.ReplaceGroups(this))

  override def description(): String =
    s"GraftRowLevelOperation(${info.command()}, file-granularity copy-on-write)"
}

/** Read-only table pinned to one historical snapshot of `table` —
  * what `VERSION AS OF` / `TIMESTAMP AS OF` resolve to, for every table
  * kind: that snapshot's base files under the deletes of that
  * snapshot's delta files (delta writes after it are invisible,
  * compactions after it don't collapse it). Serves the table's own
  * metadata columns. Deliberately NOT SupportsWrite. */
class GraftSnapshotTable(ident: String, table: GraftTable,
    snap: GraftSnapshot)
    extends Table with SupportsRead with SupportsMetadataColumns {
  override def name(): String = ident
  override def schema(): StructType = snap.schema
  override def metadataColumns(): Array[MetadataColumn] =
    table.metadataColumns()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.readScan(snap.schema, snap.files, snap.deltaFiles, options,
      live = false)
}
