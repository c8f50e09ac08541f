package graft.io.dsv2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite,
  DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder,
  RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.MergeOnRead

object GraftRowLevelOps {
  /** Most keys one SQL DELETE or UPDATE on a mor-keyed table may match. */
  val MaxDeleteKeys: Long = 4194304L

  private[dsv2] val CapName = s"GraftRowLevelOps.MaxDeleteKeys=$MaxDeleteKeys"
}

/** SQL row-level DML on manifest tables — `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` against a [[GraftCatalog]] table, planned through Spark
  * 4's native `SupportsRowLevelOperations` hooks so takedowns and
  * upserts are plain SQL, not `CALL`s or Scala API:
  *
  * {{{
  *   DELETE FROM lake.docs WHERE doc_id % 13 = 3
  *   UPDATE lake.docs SET quality = 0 WHERE lang = 'xx'
  *   MERGE INTO lake.docs t USING updates s ON t.doc_id = s.doc_id
  *     WHEN MATCHED AND s.crawl_ts > t.crawl_ts THEN UPDATE SET *
  *     WHEN MATCHED AND s.retracted THEN DELETE
  *     WHEN NOT MATCHED THEN INSERT *
  *     WHEN NOT MATCHED BY SOURCE AND t.stale THEN DELETE
  * }}}
  *
  * MERGE carries the FULL ANSI clause surface (io64): multiple
  * `WHEN MATCHED [AND cond]` clauses first-match-wins, conditional
  * inserts, and `WHEN NOT MATCHED BY SOURCE` — Spark's own
  * `RewriteMergeIntoTable` plans them over this group-based op, and
  * duplicate source join keys refuse with the standard cardinality
  * violation rather than nondeterministic results.
  *
  * The CoW-vs-MoR mode choice is a property of the TABLE, exactly like
  * Iceberg's `write.delete.mode`: a table with a recorded merge key
  * (`CALL lake.set_mor_key(...)` / [[GraftMorKey.set]]) takes the
  * MERGE-ON-READ delete — Spark's delta-based plan ([[GraftDeltaDelete]])
  * hands the matched keys to the writer and the commit is ONE appending
  * tombstone directory of keys-only size, data untouched, later folded
  * by maintenance ([[MergeOnRead]] semantics, io21's shape). A table
  * without a merge key takes COPY-ON-WRITE: Spark's group-based plan
  * rewrites the snapshot's surviving rows through the ordinary
  * [[GraftV2Write]] as ONE replacing commit (old versions still
  * time-travel; io20's observable semantics). UPDATE on a merge-keyed
  * table takes the write-cheap MERGE-ON-READ form too
  * ([[GraftDeltaUpdate]]): an EPOCH-SCOPED tombstone + re-insert pair
  * in one appending commit — the scoping ([[MergeOnRead.tombEpoch]])
  * is what makes the pair readable, since a GLOBAL tombstone would
  * hide the re-inserted rows themselves. While an unscoped tombstone
  * (what every MoR DELETE writes) is live, UPDATE falls back to the
  * copy-on-write rewrite (which also folds it). MERGE is always
  * copy-on-write. The merge key is a ROW IDENTITY (the Iceberg identifier-field contract):
  * with duplicate keys, MoR DELETE/UPDATE act at KEY granularity —
  * a predicate matching only SOME rows of a key still tombstones the
  * whole key (UPDATE rewrites exactly the matched rows).
  *
  * Scale note: the delta DELETE funnels matched keys through driver
  * commit messages — right for the takedown shape (keys-sized), wrong
  * for a bulk purge, so past [[GraftRowLevelOps.MaxDeleteKeys]] (4M,
  * aligned with the MoR broadcast cap) it refuses loudly and points at
  * the CoW path (drop the mor key) which streams instead of collecting.
  */
class GraftRowLevelBuilder(s: SparkSession, root: String, version: Int,
    tableSchema: StructType, dataDirs: Seq[String], tombDirs: Seq[String],
    morKey: Option[String], info: RowLevelOperationInfo,
    colMap: Map[String, String] = Map.empty)
  extends RowLevelOperationBuilder {

  override def build(): RowLevelOperation =
    if (info.command == Command.DELETE && morKey.nonEmpty)
      new GraftDeltaDelete(s, root, version, tableSchema, dataDirs,
        tombDirs, morKey.get, colMap)
    else if (info.command == Command.UPDATE && morKey.nonEmpty &&
        // unscoped tombstones (MoR DELETEs') outrank every epoch and
        // would hide this update's re-inserted rows — while one is
        // live, UPDATE takes the copy-on-write rewrite (which also
        // folds it)
        tombDirs.forall(t => MergeOnRead.tombEpoch(t).isDefined))
      new GraftDeltaUpdate(s, root, version, tableSchema, dataDirs,
        tombDirs, morKey.get, colMap)
    else
      new GraftGroupRewrite(s, root, version, tableSchema, dataDirs,
        tombDirs, morKey, info.command, colMap)
}

/** Shared scan↔write state for one group-based row-level operation:
  * seeded with the PINNED SNAPSHOT's directory list; when Spark's
  * runtime group filter fires, the scan narrows it to the directories
  * containing matching rows, and the write's conflict-detecting commit
  * replaces exactly the recorded set — untouched directories carry
  * verbatim, racing appends survive, and a replacing race refuses. A
  * never-fired filter (disabled, non-selective, unfilterable condition)
  * leaves the whole snapshot as the replaced set — never wrong, only
  * less surgical.
  */
class GraftRowOpState {
  @volatile var replacedDirs: Option[Seq[String]] = None
}

/** Group-based (copy-on-write) op: the GROUPS are committed directories
  * (`_dir`, this engine's `_file`). Spark's runtime group filter — fed
  * by [[GraftDirColumn]] through the scan's `SupportsRuntimeV2Filtering`
  * hook — restricts both the survivor scan and the replacement to the
  * directories that actually contain matches, so a selective SQL DELETE
  * rewrites only what it touches (io20's copy-on-write contract, now
  * through plain SQL). Without the filter the whole pinned snapshot is
  * the one group. Concurrent appends racing a PARTIAL replace keep
  * their entries ([[graft.io.Manifest.replaceDirs]] rebases); a
  * whole-snapshot replace is last-writer-wins like every maintenance
  * rewrite.
  */
class GraftGroupRewrite(s: SparkSession, root: String, version: Int,
    tableSchema: StructType, dataDirs: Seq[String], tombDirs: Seq[String],
    morKey: Option[String], cmd: Command,
    colMap: Map[String, String] = Map.empty) extends RowLevelOperation {

  // surgical (directory-level) GROUP FILTERING only on a TOMBSTONE-FREE
  // table: a partial replace would have to carry the live tombstone
  // entries for the untouched directories' sake, and those tombstones
  // would then hide this op's re-inserted keys. A tombstoned table
  // replaces its whole pinned snapshot INCLUDING the tombstone entries
  // (the rewrite folds them — the correct combined semantic; MoR
  // tables take DELETEs via the delta path anyway).
  //
  // Either way the commit is the CONFLICT-DETECTING partial replace
  // seeded with the pinned snapshot: concurrent APPENDS racing this op
  // keep their entries (they are not in the replaced set), while a
  // concurrent REPLACING commit that consumed this op's input groups
  // refuses loudly (Manifest.ConcurrentRewriteException) instead of
  // resurrecting removed rows.
  private val surgical = tombDirs.isEmpty
  private val state = new GraftRowOpState
  state.replacedDirs = Some(dataDirs ++ tombDirs)

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(s, root, version, tableSchema, dataDirs,
      tombDirs, morKey, options, if (surgical) Some(state) else None,
      rowOp = true, colMap = colMap)

  override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftV2Write(s, root, winfo, replacing = true,
          fromRowOp = true, opState = Some(state), colMap = colMap)
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (surgical) Array(Expressions.column("_dir")) else Array.empty

  override def description(): String =
    s"GraftGroupRewrite($cmd) root=$root v$version surgical=$surgical"
}

/** Delta-based DELETE for a table with a recorded merge key: Spark scans
  * only matching rows, hands each row's id (the merge key) to the
  * writer, and the commit is [[MergeOnRead.deleteKeys]] — one appending
  * tombstone directory, no data rewritten. A DELETE matching nothing
  * commits nothing (deleteKeys' no-op contract).
  */
class GraftDeltaDelete(s: SparkSession, root: String, version: Int,
    tableSchema: StructType, dataDirs: Seq[String], tombDirs: Seq[String],
    morKey: String, colMap: Map[String, String] = Map.empty)
  extends RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): Command = Command.DELETE

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(morKey))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(s, root, version, tableSchema, dataDirs,
      tombDirs, Some(morKey), options, colMap = colMap)

  override def newWriteBuilder(winfo: LogicalWriteInfo)
      : DeltaWriteBuilder = new DeltaWriteBuilder {
    override def build(): DeltaWrite = {
      val keyIsString = tableSchema(morKey).dataType match {
        case StringType => true
        case LongType => false
        case other => throw new IllegalArgumentException(
          s"mor key '$morKey' must be bigint or string for SQL DELETE, " +
            s"got $other")
      }
      new GraftDeltaDeleteWrite(s, root, morKey, keyIsString)
    }
  }

  override def description(): String =
    s"GraftDeltaDelete root=$root v$version key=$morKey"
}

/** Delta-based MERGE-ON-READ UPDATE (io63 — the deletion-vector-shaped
  * write-cheap update): Spark's delta plan hands the writer each
  * matched row's id (the merge key) and its UPDATED full row; the
  * rows land executor-side through the stock parquet writer into ONE
  * `morins-<epoch>` directory, the ids become ONE `tombstones-e<epoch>`
  * directory, and both commit as ONE appending version — write IO ∝
  * the update, data untouched, `CALL lake.fold` ends the deferral.
  * The EPOCH makes the pair readable (see [[MergeOnRead]]'s scoping):
  * the tombstone hides the key's rows only in lower-epoch directories,
  * so the update's own re-inserts survive while every older copy
  * disappears. Matched-key volume rides the same driver cap as the
  * delta DELETE (the correction-stream shape); the ROWS never touch
  * the driver.
  */
class GraftDeltaUpdate(s: SparkSession, root: String, version: Int,
    tableSchema: StructType, dataDirs: Seq[String], tombDirs: Seq[String],
    morKey: String, colMap: Map[String, String] = Map.empty)
  extends RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): Command = Command.UPDATE

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(morKey))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(s, root, version, tableSchema, dataDirs,
      tombDirs, Some(morKey), options, colMap = colMap)

  override def newWriteBuilder(winfo: LogicalWriteInfo)
      : DeltaWriteBuilder = new DeltaWriteBuilder {
    override def build(): DeltaWrite = {
      val keyIsString = tableSchema(morKey).dataType match {
        case StringType => true
        case LongType => false
        case other => throw new IllegalArgumentException(
          s"mor key '$morKey' must be bigint or string for SQL " +
            s"UPDATE, got $other")
      }
      new GraftDeltaUpdateWrite(s, root, morKey, keyIsString,
        dataDirs ++ tombDirs, winfo, colMap)
    }
  }

  override def description(): String =
    s"GraftDeltaUpdate root=$root v$version key=$morKey"
}

private case class UpdateTaskMessage(longs: Array[Long],
    strings: Array[String], inner: WriterCommitMessage)
  extends WriterCommitMessage

class GraftDeltaUpdateWrite(s: SparkSession, root: String,
    morKey: String, keyIsString: Boolean,
    entries: Seq[String], logicalInfo: LogicalWriteInfo,
    colMap: Map[String, String]) extends DeltaWrite {

  // physical column names for the landed files (the GraftV2Write rule)
  private val l2p: Map[String, String] = colMap.map(_.swap)
  private val info: LogicalWriteInfo =
    if (colMap.isEmpty) logicalInfo
    else new LogicalWriteInfo {
      override def queryId: String = logicalInfo.queryId
      override def schema: StructType = StructType(
        logicalInfo.schema.map(f =>
          f.copy(name = l2p.getOrElse(f.name, f.name))))
      override def options: CaseInsensitiveStringMap =
        logicalInfo.options
    }

  private val epoch = MergeOnRead.nextEpoch(entries)
  private val uuid = java.util.UUID.randomUUID().toString
  private val insDir =
    s"$root/data/${MergeOnRead.InsertPrefix}$epoch-$uuid"
  private val tombDir =
    s"$root/data/${MergeOnRead.TombstonePrefix}e$epoch-$uuid"

  private val delegate = org.apache.spark.sql.execution.datasources
    .v2.parquet.ParquetWrite(Seq(insDir), "parquet", _ => true, info)

  override def toBatch(): DeltaBatchWrite = new DeltaBatchWrite {
    private val db = delegate.toBatch
    // the rewritten rows land like any data directory (the tombstone
    // beside them is a key list, not data); the tasks observe the
    // columns it lands with
    private val landing = graft.io.Landing.plan(s, root, colMap = colMap)
    private val observed = landing.observed(info.schema())

    // the parquet file commit protocol coordinates its own task
    // commits — a second (outer) negotiation would authorize a
    // different attempt id and deny the inner one
    override def useCommitCoordinator(): Boolean =
      db.useCommitCoordinator()

    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
        : DeltaWriterFactory =
      new UpdateRowWriterFactory(new ObservingWrites.Factory(
        db.createBatchWriterFactory(pinfo), info.schema(), observed),
        keyIsString)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val msgs = messages.collect { case m: UpdateTaskMessage => m }
      val total = msgs.map(m =>
        if (keyIsString) m.strings.length.toLong
        else m.longs.length.toLong).sum
      // an UPDATE matching nothing commits NO version (the CoW/MoR
      // no-op contract); any eagerly created files stay orphans
      if (total == 0) return
      require(total <= GraftRowLevelOps.MaxDeleteKeys,
        s"SQL UPDATE matched $total keys, past ${GraftRowLevelOps.CapName}" +
          " — this is a bulk rewrite, not a correction stream: drop the " +
            "mor key for the copy-on-write path")
      // finalize the rewritten-row files
      db.commit(msgs.map(m => ObservingWrites.inner(m.inner)))
      import s.implicits._
      val keys =
        if (keyIsString) msgs.flatMap(_.strings).toSeq.toDF(morKey)
        else msgs.flatMap(_.longs).toSeq.toDF(morKey)
      keys.distinct().write.parquet(tombDir)
      graft.io.Landing.prepare(s, landing, insDir,
        Some(ObservingWrites.observed(s, info.schema(), observed,
          msgs.map(_.inner).toSeq)), Some(info.schema()))
      // conflict-detecting commit: the epoch was pinned at PLAN time,
      // so a concurrent UPDATE can land between this one's plan and
      // commit — the guard re-checks the fresh entry list inside the
      // commit loop and refuses iff a tombstone UNSEEN at plan time
      // landed over OVERLAPPING keys (same/higher epoch → duplicated
      // rows; lower epoch → its committed rewrite silently hidden);
      // disjoint-key racers merge correctly and commit
      graft.io.Manifest.commitAllGuarded(s, root, Seq(tombDir, insDir),
        graft.io.MergeOnRead.epochClashGuard(s, root, morKey, epoch,
          tombDir, entries))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      db.abort(messages.collect {
        case m: UpdateTaskMessage => ObservingWrites.inner(m.inner)
      })
  }

  override def description(): String =
    s"GraftDeltaUpdateWrite root=$root key=$morKey epoch=$epoch"
}

/** Per-task delta writer for the MoR UPDATE: ids accumulate (capped),
  * updated rows stream straight into the task's parquet writer.
  */
class UpdateRowWriterFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    keyIsString: Boolean) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] = new DeltaWriter[InternalRow] {

    private val rowWriter = inner.createWriter(partitionId, taskId)
    private val longs = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val strings =
      scala.collection.mutable.ArrayBuffer.empty[String]

    private def checkCap(): Unit =
      require(longs.length <= GraftRowLevelOps.MaxDeleteKeys &&
        strings.length <= GraftRowLevelOps.MaxDeleteKeys,
        s"SQL UPDATE matched more than ${GraftRowLevelOps.CapName} " +
          "keys in one task — drop the mor key for the copy-on-write path")

    override def update(metadata: InternalRow, id: InternalRow,
        row: InternalRow): Unit = {
      if (keyIsString) strings += id.getUTF8String(0).toString
      else longs += id.getLong(0)
      checkCap()
      rowWriter.write(row)
    }

    override def delete(metadata: InternalRow, id: InternalRow): Unit = {
      // representUpdateAsDeleteAndInsert plans arrive as pairs
      if (keyIsString) strings += id.getUTF8String(0).toString
      else longs += id.getLong(0)
      checkCap()
    }

    override def insert(row: InternalRow): Unit = rowWriter.write(row)

    override def commit(): WriterCommitMessage =
      UpdateTaskMessage(longs.toArray, strings.toArray,
        rowWriter.commit())

    override def abort(): Unit = rowWriter.abort()

    override def close(): Unit = rowWriter.close()
  }
}

private case class DeleteKeysMessage(longs: Array[Long],
    strings: Array[String]) extends WriterCommitMessage

class GraftDeltaDeleteWrite(s: SparkSession, root: String, morKey: String,
    keyIsString: Boolean) extends DeltaWrite {

  override def toBatch(): DeltaBatchWrite = new DeltaBatchWrite {

    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
        : DeltaWriterFactory =
      new KeyCollectingWriterFactory(keyIsString)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val msgs = messages.collect { case m: DeleteKeysMessage => m }
      val total = msgs.map(m =>
        if (keyIsString) m.strings.length.toLong
        else m.longs.length.toLong).sum
      require(total <= GraftRowLevelOps.MaxDeleteKeys,
        s"SQL DELETE matched $total keys, past ${GraftRowLevelOps.CapName}" +
          " — this is a bulk purge, not a takedown: drop the mor key to " +
            "take the copy-on-write path")
      import s.implicits._
      val keys =
        if (keyIsString) msgs.flatMap(_.strings).toSeq.toDF(morKey)
        else msgs.flatMap(_.longs).toSeq.toDF(morKey)
      MergeOnRead.deleteKeys(s, root, morKey, keys, s"$root/data")
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  override def description(): String =
    s"GraftDeltaDeleteWrite root=$root key=$morKey"
}

class KeyCollectingWriterFactory(keyIsString: Boolean)
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] = new DeltaWriter[InternalRow] {

    private val longs = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val strings = scala.collection.mutable.ArrayBuffer.empty[String]

    private def checkCap(): Unit =
      require(longs.length <= GraftRowLevelOps.MaxDeleteKeys &&
        strings.length <= GraftRowLevelOps.MaxDeleteKeys,
        s"SQL DELETE matched more than ${GraftRowLevelOps.CapName} " +
          "keys in one task — drop the mor key for the copy-on-write path")

    override def delete(metadata: InternalRow, id: InternalRow): Unit = {
      if (keyIsString) strings += id.getUTF8String(0).toString
      else longs += id.getLong(0)
      checkCap()
    }

    override def update(metadata: InternalRow, id: InternalRow,
        row: InternalRow): Unit =
      throw new UnsupportedOperationException(
        "the delta op serves DELETE only; UPDATE plans copy-on-write")

    override def insert(row: InternalRow): Unit =
      throw new UnsupportedOperationException(
        "the delta op serves DELETE only; MERGE plans copy-on-write")

    override def commit(): WriterCommitMessage =
      DeleteKeysMessage(longs.toArray, strings.toArray)

    override def abort(): Unit = ()

    override def close(): Unit = ()
  }
}
