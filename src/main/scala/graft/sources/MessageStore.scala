package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's full REST/CQL surface (server.py) as a Spark library —
  * the operation-for-operation switch path for a client of the reference:
  *
  * | reference (server.py)                   | MessageStore          |
  * |-----------------------------------------|-----------------------|
  * | `CREATE KEYSPACE` (server.py:70)        | `createKeyspace()`    |
  * | `DROP KEYSPACE` (server.py:83)          | `dropKeyspace()`      |
  * | `CREATE TABLE messages` (server.py:176) | `createTables()`      |
  * | `CREATE TABLE users` (server.py:263)    | `createTables()`      |
  * | batch INSERT messages (server.py:186)   | `insertMessages(...)` |
  * | batch INSERT users (server.py:135)      | `insertUsers(...)`    |
  * | `WHERE channel_id=?` (server.py:95)     | `messages(channelId)` |
  * | `SELECT * FROM messages` (server.py:147)| `allMessages()`       |
  * | projection scan users (server.py:219)   | `listUsers()`         |
  * | `WHERE username=?` (server.py:247)      | `user(username)`      |
  *
  * Spark-first translation: keyspace = catalog database, table = a
  * catalog table SERVED BY THE TOKEN-RANGE CONNECTOR (r11, VERDICT r10
  * next-round #6 — one write path for the REST-surface library and the
  * connector): `CREATE TABLE ... USING TokenRangeSource` registers the
  * name; the provider owns the bytes, token-bucketed on the partition
  * key — `messages` on `channel_id` (BIGINT), `users` on `username`
  * (TEXT, the r10 "users can't ride the connector" gap, closed by the
  * string-key ring). Every read below therefore plans token ranges: the
  * channel/username predicates prune to the owning bucket on the driver,
  * exactly as the reference's coordinator restricts to the key's replica.
  * Cassandra INSERT-is-upsert = append + last-write-wins read view
  * (row_number over the primary key, newest `write_seq` first); `now()`
  * timeuuid = a strictly-increasing driver-issued write sequence +
  * `uuid()` — time-sortable exactly like a v1 timeuuid. Writes publish
  * through the connector's manifest commit, so every batch insert is
  * ATOMIC to readers — the BatchStatement guarantee the r10 sink lacked.
  *
  * At 100 TB: appends are the only write path (blind writes, no read-
  * modify-write — same contract as Cassandra); `compactUsers()` is the
  * compaction analog — and because the manifest gives snapshot isolation
  * (old files outlive the flip), it reads and atomically overwrites the
  * SAME table in one job, no staging table; `messages(channelId)` prunes
  * to the key's token bucket before any file is opened.
  */
final class MessageStore(spark: SparkSession, keyspace: String) {

  private val messagesT = s"`$keyspace`.messages"
  private val usersT = s"`$keyspace`.users"
  private val provider = classOf[graft.sources.connector.TokenRangeSource].getName

  // connector-backed table locations: one directory per keyspace, rooted
  // beside the warehouse (catalog holds the NAMES, the provider the bytes)
  private val root = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file://").stripPrefix("file:")
    s"$wh/graft_tr/$keyspace"
  }

  /** Physical location of a keyspace table (test/ops surface). */
  private[graft] def tablePath(table: String): String = s"$root/$table"

  private val usersPk =
    Window.partitionBy("username").orderBy(desc("write_seq"), desc("user_id"))

  // ---- DDL ----------------------------------------------------------------
  def createKeyspace(): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$keyspace`")

  def dropKeyspace(): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS `$keyspace` CASCADE")
    // connector tables are path-backed (external): reap the bytes too
    graft.sources.connector.TokenRangeSource
      .deleteRecursively(new java.io.File(root))
  }

  def createTables(): Unit = {
    // the reference's own declaration (`WITH CLUSTERING ORDER BY
    // (message_id DESC)`, server.py:181-183), PHYSICAL as of r14: every
    // insert sorts newest-first within its bucket files via the sink's
    // declared ordering, so the newest-page read pattern scans
    // front-of-file — not a query-time ORDER BY over arrival order. A
    // keyspace whose table already RECORDED a clustering spec keeps it
    // (the spec is fixed at creation; re-registering the catalog entry
    // with a contradicting literal would make every insert refuse —
    // r14 review's upgrade-path break).
    val msgCk = graft.sources.connector.TokenRangeSource
      .recordedCk(tablePath("messages")).getOrElse("write_seq DESC")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $messagesT (
         |  channel_id BIGINT, write_seq BIGINT, message_id STRING,
         |  author_id STRING, message STRING)
         |USING $provider
         |OPTIONS (path '$root/messages', pk 'channel_id', ck '$msgCk')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $usersT (
         |  user_id STRING, username STRING, email STRING, password STRING,
         |  write_seq BIGINT)
         |USING $provider
         |OPTIONS (path '$root/users', pk 'username')""".stripMargin)
  }

  // ---- writes (append-only, upsert visible at read) -----------------------
  // Strictly increasing write sequence: time-anchored like a v1 timeuuid's
  // time part, but never wrapping or repeating — under a write burst the
  // counter simply runs ahead of the clock (a modulo-wrapped suffix repeats
  // after 1000 writes/ms and can make LWW pick the wrong 'latest' row).
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextSeq(): Long =
    seq.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis() * 1000))

  /** BatchStatement analog: one append of (channel, author, text) rows —
    * atomic at read time via the connector's manifest commit; message_id =
    * uuid, write_seq = the timeuuid's time part. */
  def insertMessages(rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    val ws = nextSeq()
    rows.toDF("channel_id", "author_id", "message")
      .withColumn("write_seq", lit(ws))
      .withColumn("message_id", expr("uuid()"))
      .select("channel_id", "write_seq", "message_id", "author_id", "message")
      .write.mode("append").insertInto(messagesT)
  }

  def insertUsers(rows: Seq[(String, String, String, String)]): Unit = {
    import spark.implicits._
    rows.toDF("user_id", "username", "email", "password")
      .withColumn("write_seq", lit(nextSeq()))
      .write.mode("append").insertInto(usersT)
  }

  // ---- reads --------------------------------------------------------------
  /** One partition in clustering (newest-first) order — the reference's
    * `SELECT * FROM messages WHERE channel_id=?`. The channel predicate is
    * pushed to the connector scan, which plans ONLY the key's owning token
    * bucket (replica-restricted read at cluster scale). */
  def messages(channelId: Long): DataFrame =
    spark.table(messagesT)
      .filter(col("channel_id") === channelId)
      .orderBy(desc("write_seq"), desc("message_id"))

  def allMessages(): DataFrame = spark.table(messagesT)

  /** The reference's poll-the-partition pattern (server.py:95, re-run per
    * page load) as a REAL STREAM (r15 — the connector's CDC tail): new
    * message batches for one channel arrive as micro-batches whose offset
    * is the manifest version, so "what's new since my last read" is the
    * stream's own checkpoint instead of a client-side re-scan. The
    * channel predicate prunes each batch's files to the owning token
    * bucket exactly as the batch read does. Messages are append-only by
    * construction (no rewrite versions), so the tail's append-only gate
    * never fires. */
  def tailMessages(channelId: Long): DataFrame =
    spark.readStream.format(provider)
      .option("pk", "channel_id")
      .load(tablePath("messages"))
      .filter(col("channel_id") === channelId)

  /** Projection-only scan (column pruning reaches the connector's parquet
    * reader projection). */
  def listUsers(): DataFrame =
    latestUsers().select("user_id", "username", "email")

  /** Point lookup by primary key with Cassandra upsert semantics: the
    * newest write for the username wins. The TEXT-key equality prunes the
    * scan to the username's owning bucket (server.py:247's shape). */
  def user(username: String): DataFrame =
    latestUsers().filter(col("username") === username)

  /** The LWW-compacted view of users (INSERT-is-upsert read semantics). */
  def latestUsers(): DataFrame =
    spark.table(usersT)
      .withColumn("rn", row_number().over(usersPk))
      .filter(col("rn") === 1)
      .drop("rn", "write_seq")

  /** Compaction analog: physically rewrite users to its LWW view — the same
    * single primary-key shuffle Cassandra compaction performs. One atomic
    * job: pin the current version, resolve LWW over exactly that snapshot,
    * and publish the resolved rows while RETIRING exactly the snapshot's
    * files (the connector's one rewrite primitive, which declares the
    * pinned version so a vector delete landing mid-flight conflicts the
    * flip and the compaction re-runs from the fresh snapshot — NOT a blanket
    * overwrite, whose truncate-at-flip would drop an insert that commits
    * while the compaction runs; the same lost-update class the r11 review
    * caught in TokenRangeOps.compact). A racing insert's files rebase into
    * the flip untouched, and read-time LWW resolves them against the
    * compacted rows exactly as before. Readers see either the full old or
    * the full new table (snapshot isolation: old files outlive the flip). */
  def compactUsers(): Unit = {
    import graft.sources.connector.{TokenRangeOps, TokenRangeSource}
    val dir = s"$root/users"
    TokenRangeOps.rewrite(spark, dir, "compactUsers") { pinned =>
      val snapshotRel = TokenRangeSource.visibleRelFiles(dir, pinned).map(_._2)
      if (snapshotRel.isEmpty) None // empty table: nothing to compact
      // the rn=1 winner KEEPS its own write_seq (it IS the snapshot's max
      // per username) — re-stamping with a fresh nextSeq() was the r12
      // lost-update: an insert that drew its seq before the snapshot pin
      // but committed after it would rebase into the flip and then LOSE
      // read-time LWW to a re-stamped stale row. With the original seq
      // preserved, every racing insert resolves exactly as it would have
      // against the uncompacted table. `compact` in Cassandra's sense:
      // content-preserving UNDER the table's LWW read semantics (the fold
      // every reader applies by write_seq) — a CDC tail that serves every
      // appended mutation and folds LWW itself sees identical content,
      // so it skips this.
      else Some(TokenRangeOps.Replace(
        spark.read.format(provider).option("pk", "username")
          .options(pinned.map(v => "version" -> v.toString).toMap).load(dir)
          .withColumn("rn", row_number().over(usersPk))
          .filter(col("rn") === 1)
          .select("user_id", "username", "email", "password", "write_seq"),
        snapshotRel, "username", "compact"))
    }
  }
}
