package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.MessageStore
import graft.sources.connector.{TokenLayout, TokenRangeOps, TokenRangeSource}

/** The `messages_rw` side: the reference's server.py surface through
  * [[MessageStore]] plus row-level rewrites through [[TokenRangeOps]] on
  * the same two tables, as `createTables` ships them. Script ops:
  *
  *   im  rows      insertMessages   (rows: channel,author,text|...)
  *   iu  rows      insertUsers      (rows: user_id,username,email,password|...)
  *   rc  channel   messages(channel).collect, newest first
  *   ru  username  user(username).collect
  *   lu            listUsers().collect
  *   am            allMessages().collect
  *   cu            compactUsers()
  *   uu  rows      TokenRangeOps.upsert on users
  *   dc  channel   TokenRangeOps.deleteKeys of a channel
  */
final class Keyspace(spark: SparkSession, name: String) {
  import Keyspace._

  val store = new MessageStore(spark, name)
  private val root = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file://").stripPrefix("file:")
    s"$wh/graft_tr/$name"
  }
  val messagesPath = s"$root/messages"
  val usersPath = s"$root/users"
  private val channels = mutable.LinkedHashSet[Long]()
  private var startFacts = Map.empty[String, Double]

  private def rows(s: String): Seq[Array[String]] =
    s.split('|').toSeq.map(_.split(",", -1))

  def exec(op: Main.Op, r: Main.OpRec): Unit = op.code match {
    case "im" =>
      val rs = rows(op.arg(0)).map(f => (f(0).toLong, f(1), f(2)))
      rs.foreach(x => channels += x._1)
      store.insertMessages(rs)
      if (r != null) r.rowsOut = rs.size
    case "iu" =>
      val rs = rows(op.arg(0)).map(f => (f(0), f(1), f(2), f(3)))
      store.insertUsers(rs)
      if (r != null) r.rowsOut = rs.size
    case "rc" =>
      keep(r, store.messages(op.arg(0).toLong)
        .select("channel_id", "author_id", "message").collect())
    case "ru" =>
      keep(r, store.user(op.arg(0)).select("user_id", "username", "email").collect())
    case "lu" =>
      keep(r, store.listUsers().select("user_id", "username", "email").collect())
    case "am" =>
      keep(r, store.allMessages().select("channel_id", "author_id", "message").collect())
    case "cu" =>
      store.compactUsers()
    case "uu" =>
      import spark.implicits._
      val rs = rows(op.arg(0)).map(f => (f(0), f(1), f(2), f(3)))
      val df = rs.toDF("user_id", "username", "email", "password")
        .withColumn("write_seq", lit(System.currentTimeMillis() * 1000L))
      TokenRangeOps.upsert(spark, usersPath, "username", df)
      if (r != null) r.rowsOut = rs.size
    case "dc" =>
      TokenRangeOps.deleteKeys(spark, messagesPath, "channel_id", Seq(op.arg(0).toLong))
  }

  private def keep(r: Main.OpRec, got: Array[Row]): Unit =
    if (r != null) { r.rows = got; r.rowsOut = got.length }

  // ---- connector state, read from outside through public functions ----

  private def pathOf(op: Main.Op): Seq[String] = op.code match {
    case "im" | "rc" | "am" | "dc" => Seq(messagesPath)
    case _ => Seq(usersPath)
  }

  private def sizeOf(path: String, rel: String): Long = new File(path, rel).length

  /** Live files before a traced op (and, for reads, the files the read's
    * token bucket holds). Runs outside the op's timed interval. */
  def probeBefore(op: Main.Op, r: Main.OpRec): Unit = {
    val t0 = System.nanoTime()
    val live = pathOf(op).map(p => p -> TokenRangeOps.liveFiles(p))
    r.resolveNs = System.nanoTime() - t0
    r.filesBefore = live.map(_._2.size).sum
    r.versionsAdded = -pathOf(op).map(p => TokenRangeSource.versions(p).size).sum
    before = live.toMap.map { case (p, fs) => p -> fs.toSet }
    op.code match {
      case "rc" => r.filesPerRead = bucketFiles(live.head._2,
        TokenLayout.bucketOfValue(op.arg(0).toLong))
      case "ru" => r.filesPerRead = bucketFiles(live.head._2,
        TokenLayout.bucketOfStringValue(op.arg(0)))
      case "lu" | "am" => r.filesPerRead = live.head._2.size
      case _ =>
    }
  }
  private var before = Map.empty[String, Set[String]]

  def probeAfter(op: Main.Op, r: Main.OpRec): Unit = {
    val live = pathOf(op).map(p => p -> TokenRangeOps.liveFiles(p).toSet)
    r.filesAfter = live.map(_._2.size).sum
    r.versionsAdded += pathOf(op).map(p => TokenRangeSource.versions(p).size).sum
    live.foreach { case (p, now) =>
      val was = before.getOrElse(p, Set.empty)
      r.bytesAdded += (now -- was).toSeq.map(sizeOf(p, _)).sum
      r.bytesRetired += (was -- now).toSeq.map(sizeOf(p, _)).sum
    }
  }

  private def bucketFiles(files: Seq[String], bucket: Int): Int =
    files.count(_.startsWith(s"tb=$bucket/"))

  /** Mean over the channels written so far of the files one
    * `messages(channel)` read opens. */
  private def filesPerChannelRead(): Double = {
    val live = TokenRangeOps.liveFiles(messagesPath)
    if (channels.isEmpty) 0.0
    else channels.toSeq.map(c => bucketFiles(live, TokenLayout.bucketOfValue(c))).sum.toDouble /
      channels.size
  }

  private def liveFileCount(): Double =
    (TokenRangeOps.liveFiles(messagesPath).size + TokenRangeOps.liveFiles(usersPath).size).toDouble

  def snapshotStart(): Unit =
    startFacts = Map("live_files_start" -> liveFileCount(),
      "files_per_read_start" -> filesPerChannelRead())

  private def du(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  /** End-of-run connector state: on-disk bytes of the keyspace's table
    * directories (live bytes come from the Python model of the writes). */
  def facts(): Map[String, Double] =
    startFacts ++ Map(
      "space_bytes" -> (du(new File(messagesPath)) + du(new File(usersPath))).toDouble,
      "live_files_end" -> liveFileCount(),
      "files_per_read_end" -> filesPerChannelRead(),
      "versions" -> (TokenRangeSource.versions(messagesPath).size +
        TokenRangeSource.versions(usersPath).size).toDouble)
}

object Keyspace {
  val kinds: Map[String, String] = Map(
    "im" -> "insert_messages", "iu" -> "insert_users", "rc" -> "read_channel",
    "ru" -> "read_user", "lu" -> "list_users", "am" -> "all_messages",
    "cu" -> "compact_users", "uu" -> "upsert_users", "dc" -> "delete_channel")
}
