package graft.sources.connector

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL row-level DML — every `UPDATE`, `MERGE INTO` and predicate
  * `DELETE` (r16, position grain r17): `SupportsDelta` — Spark's
  * delta-based rewrite protocol, the public interface behind
  * deletion-vector DML in the lakehouse formats. The operation receives
  * the matched rows THEMSELVES (delete/update/insert, each row carrying
  * its `(_file, _pos)` position identity), stages ONLY the new row
  * images as data files, and publishes the removals as a POSITION
  * deletion vector (`_file` rel + `_pos` physical ordinal — the
  * Delta/Iceberg DV shape) bound to exactly the files that held them —
  * a 1-row SQL `UPDATE` appends one tiny file and one tiny vector
  * instead of rewriting anything (Cassandra's write path, through SQL).
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
  * Tombstones stream from each task to a staged parquet file as they
  * arrive, so no task holds row-sized state in memory. The commit plans
  * the statement as one [[TokenRangeOps.flip]], the commit path of every
  * row-level write: at or below the table's `dml.fallback_rows` bound
  * (default 1M) it reads the tombstones once on the driver and flips a
  * `Bind` of them, placing the staged images in the same publish; past
  * it, the statement completes as the copy-on-write rewrite
  * [[TokenRangeOps.morFallbackRewrite]] — the statement's size, not a
  * table property, chooses copy-on-write, with identical results and an
  * identical change-feed sidecar, because a huge vector would tax every
  * read until compaction while the rewrite pays once.
  *
  * Concurrency: the operation pins one snapshot and the flip validates
  * against it, so a racing rewrite fails the statement like a
  * serializable-txn abort, and the flip deletes the sidecars it wrote. */
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
    // the matched-row scan is the statement's ONLY pass: it consumes
    // matched rows directly, pruned by static pushdown
    new TokenRangeScanBuilder(tableSchema, new CaseInsensitiveStringMap(merged))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite with ClusteredWrite {
        // row images sort like every sink write, so each bucket file stays
        // ck-sorted; a pure DELETE writes no image (and its rows carry no
        // data columns to sort on)
        override def ckSpec: Option[String] =
          if (info.schema().isEmpty) None
          else TokenRangeSource.recordedCk(path)
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

private[connector] object TokenRangeDeltaBatchWrite {
  /** A tombstone: the (file rel, stored ordinal) of one removed row. */
  val TombSchema: StructType = StructType(Array(
    StructField(TokenRangeSource.FileCol, StringType),
    StructField(TokenRangeSource.PosCol, LongType)))
}

private[connector] final class TokenRangeDeltaBatchWrite(path: String,
    tableSchema: StructType, rowSchema: StructType,
    pinned: Option[Int], cmd: RowLevelOperation.Command)
    extends DeltaBatchWrite {
  import TokenRangeDeltaBatchWrite.TombSchema

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
    }.toSeq
    val tombFiles = messages.collect {
      case TokenRangeDeltaCommit(_, tf, n) if tf != null && n > 0 => tf
    }.toSeq
    val tombRows = messages.collect {
      case TokenRangeDeltaCommit(_, _, n) => n
    }.sum
    if (staged.isEmpty && tombRows == 0) return // matched nothing: no-op
    val spark = org.apache.spark.sql.SparkSession.active
    val kind = cmd match {
      case RowLevelOperation.Command.DELETE => "delete"
      case _ => "upsert"
    }
    // CHANGE DATA FEED: pre-images are the tombstoned positions' rows
    // read VECTOR-MERGED at the pinned version from exactly the touched
    // files; staged rows classify as post-images (identity also removed)
    // or inserts — the same classification every other op records
    def changes(touchedRel: Seq[String], tombs: DataFrame) = () =>
      TokenRangeOps.deltaDmlChanges(spark, path, pinned, touchedRel, staged, tombs)
    try {
      if (TokenRangeOps.publishesVector(path, tombRows)) {
        // the tombstones — the vector's content AND the CDF pre-image
        // selector — are at most the table's vector bound: read once here
        val tombs = tombFiles.flatMap(readTombs)
        val touchedRel = tombs.map(_.getString(0)).distinct.sorted
        val frame = spark.createDataFrame(tombs.asJava, TombSchema)
        TokenRangeOps.flip(path, pinned, TokenRangeOps.Bind(frame, touchedRel,
          kind, Some(changes(touchedRel, frame)), staged = staged))
      } else {
        // COPY-ON-WRITE FALLBACK: same statement, group rewrite — the
        // touched files' survivors (old vectors merged, this statement's
        // tombstoned positions dropped) plus the staged images republish
        // while the touched files retire, in one conflict-validated flip
        val tombs = spark.read.schema(TombSchema).parquet(tombFiles: _*)
        val touchedRel = tombs.select(TokenRangeSource.FileCol).distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        TokenRangeOps.morFallbackRewrite(spark, path, pinned, touchedRel,
          staged, tombs, kind, changes(touchedRel, tombs))
      }
    } finally
      TokenRangeSource.deleteRecursively(TokenRangeSource.stagingDir(path, writeId))
  }

  /** One task's tombstone parquet as (`_file` rel, `_pos`) rows. */
  private def readTombs(file: String): Seq[Row] =
    TokenRangeSource.withParquet(file) { rd =>
      val rows = new GroupRows(rd, rd.getFooter.getFileMetaData.getSchema)
      Iterator.continually(rows.next()).takeWhile(_ != null).map(g =>
        Row(g.getString(TokenRangeSource.FileCol, 0),
          g.getLong(TokenRangeSource.PosCol, 0))).toVector
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

  private val tombSchema =
    TokenRangeSource.toParquet(TokenRangeDeltaBatchWrite.TombSchema)
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
        .builder(TokenRangeSource.createParquet(tombFile))
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
