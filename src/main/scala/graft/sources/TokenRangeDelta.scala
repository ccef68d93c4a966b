package graft.sources.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL MERGE-ON-READ row-level DML (r16, position grain r17):
  * `SupportsDelta` — Spark's delta-based rewrite protocol, the public
  * interface behind deletion-vector DML in the lakehouse formats. Where
  * the group-based copy-on-write operation rewrites every file holding a
  * matching row, the delta operation receives the matched rows
  * THEMSELVES (delete/update/insert, each row carrying its
  * `(_file, _pos)` position identity), stages ONLY the new row images as
  * data files, and publishes the removals as a POSITION deletion vector
  * (`_file` rel + `_pos` physical ordinal — the Delta/Iceberg DV shape)
  * bound to exactly the files that held them — a 1-row SQL `UPDATE`
  * appends one tiny file and one tiny vector instead of rewriting
  * anything (Cassandra's write path, through SQL). Opt-in per table:
  * `TBLPROPERTIES('dml'='mor')`.
  *
  * POSITION identity (r17, VERDICT r16 #1/#4): the row id is the
  * immutable (file, stored ordinal), NOT the pk — so the statement is
  * exact under duplicate-pk rows (a blind-append duplicate loses only
  * the rows the predicate actually matched) and on CLUSTERED tables
  * (ck siblings of a deleted row survive: they sit at other ordinals).
  * The r16 pk-grain's uniqueness obligation is gone, and the catalog's
  * clustered-table refusal with it — the reference's own `messages`
  * table (PRIMARY KEY (channel_id, message_id) WITH CLUSTERING ORDER
  * BY, server.py:176-183) now takes this path for its hot
  * delete/edit-one-message workload.
  *
  * BULK statements FALL BACK, not refuse (r17, VERDICT r16 #3): a
  * statement tombstoning more rows than the table's
  * `dml.fallback_rows` bound (default 1M) completes through the
  * copy-on-write rewrite inside the same commit — identical results,
  * identical change-feed sidecar — because a huge vector would tax
  * every read until compaction while the rewrite pays once. Tombstones
  * stream from each task to a staged parquet sidecar as they arrive
  * (ADVICE r16: the old in-memory buffers paid the full driver/executor
  * memory cost before any guard fired), so neither path accumulates
  * row-sized state in memory.
  *
  * Concurrency: the operation pins one snapshot; the vector publish
  * validates its bindings against the CAS base and the pinned version
  * ([[TokenRangeSource.publishManifest]] `dvBind`/`dvSeenVersion`), so a
  * racing rewrite fails the statement like a serializable-txn abort —
  * the same contract as the copy-on-write path. */
private[connector] final class TokenRangeDeltaOperation(
    cmd: RowLevelOperation.Command,
    tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends RowLevelOperation with SupportsDelta {

  private val path = TokenRangeSource.pathOf(options)
  private val pinned: Option[Int] = TokenRangeSource.currentVersion(path)

  override def command(): RowLevelOperation.Command = cmd

  /** Row identity = the POSITION (file, stored ordinal) — both metadata
    * columns the connector scan synthesizes. Exact under duplicate pk
    * rows and on clustered tables (the pk-grain r16 shape was neither). */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(TokenRangeSource.FileCol),
      Expressions.column(TokenRangeSource.PosCol))

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newScanBuilder(o: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options)
    merged.putAll(o)
    pinned.foreach(v => merged.put("version", v.toString))
    // No runtime group filtering here, deliberately: Spark 4.1's
    // RowLevelOperationRuntimeGroupFiltering matches only GROUP-based
    // (ReplaceData) plans, and a delta operation wouldn't profit anyway
    // — the matched-row scan is the statement's ONLY pass (cow needed
    // the file prune because it re-reads pruned files' bystander rows;
    // delta consumes matched rows directly, with static pushdown).
    new TokenRangeScanBuilder(tableSchema, new CaseInsensitiveStringMap(merged))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new TokenRangeDeltaBatchWrite(path, tableSchema, info.schema(),
            pinned, cmd)
      }
    }
}

/** One task's contribution: staged image files plus the task's staged
  * tombstone parquet (`_file` rel, `_pos`) and its row count. */
private[connector] final case class TokenRangeDeltaCommit(
    files: Array[String], tombFile: String, tombRows: Long)
    extends WriterCommitMessage

private[connector] final class TokenRangeDeltaBatchWrite(path: String,
    tableSchema: StructType, rowSchema: StructType,
    pinned: Option[Int], cmd: RowLevelOperation.Command)
    extends DeltaBatchWrite {

  private val writeId = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory = {
    new java.io.File(path).mkdirs()
    // a pure DELETE stages no row images: its write schema is EMPTY and
    // the data writer is never constructed (lazy in the task writer)
    val pkIdx =
      if (rowSchema.fields.isEmpty) Nil
      else TokenRangeSource.recordedPk(path)
        .getOrElse(throw new IllegalArgumentException(
          s"token-range merge-on-read DML at $path requires a recorded pk"))
        .split(',').map(_.trim).toSeq
        .map(n => rowSchema.fieldIndex(
          rowSchema.fieldNames.find(_.equalsIgnoreCase(n)).getOrElse(n)))
    new TokenRangeDeltaWriterFactory(path, rowSchema, pkIdx, writeId,
      TokenRangeSource.indexIdxOf(path, rowSchema))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap {
      case TokenRangeDeltaCommit(fs, _, _) => fs
      case _ => Array.empty[String]
    }
    val tombFiles = messages.collect {
      case TokenRangeDeltaCommit(_, tf, n) if tf != null && n > 0 => tf
    }
    val tombRows = messages.collect {
      case TokenRangeDeltaCommit(_, _, n) => n
    }.sum
    if (staged.isEmpty && tombRows == 0) return // matched nothing: no-op
    val spark = org.apache.spark.sql.SparkSession.active
    val kind = cmd match {
      case RowLevelOperation.Command.DELETE => "delete"
      case _ => "upsert"
    }
    // the tombstone frame: (file rel, stored ordinal) of every removed
    // row — the vector's content AND the CDF pre-image selector
    val tombSchema = StructType(Array(
      StructField(TokenRangeSource.FileCol, StringType),
      StructField(TokenRangeSource.PosCol, LongType)))
    val tombs: org.apache.spark.sql.DataFrame =
      if (tombFiles.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tombSchema)
      else spark.read.schema(tombSchema).parquet(tombFiles.toIndexedSeq: _*)
    // the files holding removed rows — the vector's binding targets /
    // the fallback's rewrite set. Driver-side list, bounded by the
    // statement's FILE fan-in (the same list the manifest flip carries).
    val touchedRel: Seq[String] =
      if (tombRows == 0) Nil
      else tombs.select(TokenRangeSource.FileCol).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    // CHANGE DATA FEED: pre-images are the tombstoned positions' rows
    // read VECTOR-MERGED at the pinned version from exactly the touched
    // files; staged rows classify as post-images (identity also removed)
    // or inserts — the same classification every other op records
    val changes = () => TokenRangeOps.deltaDmlChanges(spark, path, pinned,
      touchedRel, staged.toSeq, tombs)
    try {
      if (tombRows > TokenRangeSource.recordedMorFallbackRows(path)) {
        // COPY-ON-WRITE FALLBACK: same statement, group rewrite — the
        // touched files' survivors (old vectors merged, this statement's
        // tombstoned positions dropped) plus the staged images republish
        // while the touched files retire, in one conflict-validated flip
        TokenRangeOps.morFallbackRewrite(spark, path, pinned, touchedRel,
          staged.toSeq, tombs, kind, changes)
      } else {
        val cdfRel =
          if (!TokenRangeSource.changeFeedEnabled(path)) None
          else Some(TokenRangeOps.writeCdfSidecar(path, changes()))
        // the vector: the task tomb parquets move VERBATIM into one
        // `_dv/<uuid>/` sidecar dir (they already hold exactly the
        // (file, ordinal) rows) — no re-write, no driver-side rows
        val dvRel: Option[String] =
          if (tombRows == 0) None
          else {
            val rel = TokenRangeOps.newDvRel()
            val dir = new java.io.File(path, rel)
            dir.mkdirs()
            tombFiles.foreach { tf =>
              val src = new java.io.File(tf)
              java.nio.file.Files.move(src.toPath,
                new java.io.File(dir, src.getName).toPath,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            }
            Some(rel)
          }
        TokenRangeSource.withCommitLock(path) {
          TokenRangeSource.publishManifest(path,
            TokenRangeSource.placeStaged(path, staged.toSeq), truncate = false,
            opKind = kind, cdfRel = cdfRel,
            dvBind = dvRel.map(dv => touchedRel.map(_ -> dv)).getOrElse(Nil),
            dvSeenVersion = pinned)
        }
      }
      TokenRangeOps.retentionSweep(path)
      TokenRangeOps.vectorSweep(spark, path)
    } finally
      TokenRangeSource.deleteRecursively(TokenRangeSource.stagingDir(path, writeId))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case TokenRangeDeltaCommit(files, tf, _) =>
        files.foreach(f => new java.io.File(f).delete())
        if (tf != null) new java.io.File(tf).delete()
      case _ => ()
    }
    TokenRangeSource.deleteRecursively(TokenRangeSource.stagingDir(path, writeId))
  }
}

private[connector] final case class TokenRangeDeltaWriterFactory(path: String,
    rowSchema: StructType, pkIdx: Seq[Int], writeId: String,
    indexIdx: Seq[Int] = Nil)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new TokenRangeDeltaWriter(path, rowSchema, pkIdx, partitionId, taskId,
      writeId, indexIdx)
}

/** Routes INSERT/UPDATE images through the ordinary staged task writer
  * (same ring routing, same file naming) and STREAMS each DELETE/UPDATE
  * position identity straight to a task-local staged parquet — per-task
  * memory is one parquet writer's buffer regardless of how many rows the
  * statement matches (ADVICE r16). */
private[connector] final class TokenRangeDeltaWriter(path: String,
    rowSchema: StructType, pkIdx: Seq[Int],
    partitionId: Int, taskId: Long, writeId: String,
    indexIdx: Seq[Int] = Nil)
    extends DeltaWriter[InternalRow] {

  // LAZY: a pure DELETE's write schema is empty — no image is ever
  // written and no staging file should be opened
  private var dataOrNull: TokenRangeDataWriter = null
  private def data: TokenRangeDataWriter = {
    if (dataOrNull == null)
      dataOrNull = new TokenRangeDataWriter(path, rowSchema, pkIdx,
        partitionId, taskId, writeId, indexIdx = indexIdx)
    dataOrNull
  }

  private val tombSchema = TokenRangeSource.toParquet(StructType(Array(
    StructField(TokenRangeSource.FileCol, StringType),
    StructField(TokenRangeSource.PosCol, LongType))))
  private val tombFactory =
    new org.apache.parquet.example.data.simple.SimpleGroupFactory(tombSchema)
  private var tombWriter: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = null
  private var tombFile: String = null
  private var tombRows: Long = 0L

  private def tomb(id: InternalRow): Unit = {
    if (tombWriter == null) {
      val dir = new java.io.File(
        TokenRangeSource.stagingDir(path, writeId), "_dvtomb")
      dir.mkdirs()
      tombFile = new java.io.File(dir,
        s"tomb-$partitionId-$taskId-$writeId.parquet").getAbsolutePath
      val conf = new org.apache.hadoop.conf.Configuration(TokenRangeSource.hadoopConf)
      org.apache.parquet.hadoop.example.GroupWriteSupport
        .setSchema(tombSchema, conf)
      tombWriter = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(tombFile))
        .withConf(conf).withType(tombSchema).build()
    }
    val g = tombFactory.newGroup()
    g.add(TokenRangeSource.FileCol, id.getUTF8String(0).toString)
    g.add(TokenRangeSource.PosCol, id.getLong(1))
    tombWriter.write(g)
    tombRows += 1
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = tomb(id)

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    tomb(id) // remove the OLD position (covers pk/ck-changing updates)
    data.write(row)
  }

  override def insert(row: InternalRow): Unit = data.write(row)

  private def closeTombWriter(): Unit =
    if (tombWriter != null) { tombWriter.close(); tombWriter = null }

  override def commit(): WriterCommitMessage = {
    closeTombWriter()
    val files =
      if (dataOrNull == null) Array.empty[String]
      else dataOrNull.commit().asInstanceOf[TokenRangeCommit].files
    TokenRangeDeltaCommit(files, tombFile, tombRows)
  }

  override def abort(): Unit = {
    closeTombWriter()
    if (dataOrNull != null) dataOrNull.abort()
  }
  override def close(): Unit = {
    closeTombWriter()
    if (dataOrNull != null) dataOrNull.close()
  }
}
