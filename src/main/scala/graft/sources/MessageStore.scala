package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.connector.TokenLayout

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
  * Spark-first translation: keyspace = a namespace of the
  * [[graft.sources.connector.TokenRangeCatalog]] registered as
  * [[MessageStore.Catalog]] over `<warehouse>/graft_tr`, table = a
  * catalog table served by the token-range connector at
  * `<warehouse>/graft_tr/<keyspace>/<table>` (one write path for the
  * REST-surface library and the connector), token-bucketed on the
  * partition key — `messages` on `channel_id` (BIGINT), `users` on
  * `username` (TEXT, through the string-key ring). Every read below
  * therefore plans token ranges: the channel/username predicates prune
  * to the owning bucket on the driver, exactly as the reference's
  * coordinator restricts to the key's replica.
  *
  * Bucket-partitioned reads: the tables resolve through the token-range
  * catalog, whose `bucket` function lets a scan whose every partition is
  * one bucket report `bucket(16, pk)` partitioning. So `user(name)` runs
  * its LWW window with no exchange, and `latestUsers`/`listUsers` do too
  * whenever their scan is bucket-pure (at most 4 non-empty buckets under
  * the default 4 splits). `messages(channel)` reads one bucket, so it
  * sorts that one partition in place: one job, no range exchange, no
  * sampling job. `compactUsers` and `TokenRangeOps` read by path
  * (`.load(path)`), which has no catalog and so no partitioning; the
  * same tables registered in `spark_catalog` would not carry it either,
  * because the session catalog loads only V1 functions.
  *
  * Cassandra INSERT-is-upsert = append + last-write-wins read view
  * (row_number over the primary key, newest `write_seq` first); `now()`
  * timeuuid = a strictly-increasing driver-issued write sequence +
  * `uuid()` — time-sortable exactly like a v1 timeuuid. Writes publish
  * through the connector's manifest commit, so every batch insert is
  * ATOMIC to readers — the BatchStatement guarantee the r10 sink lacked.
  * A batch insert runs one write task per owning bucket, so a batch adds
  * about one file per bucket it writes (a one-channel batch exactly one).
  *
  * At 100 TB: appends are the only write path (blind writes, no read-
  * modify-write — same contract as Cassandra); `compactUsers()` is the
  * compaction analog — and because the manifest gives snapshot isolation
  * (old files outlive the flip), it reads and atomically overwrites the
  * SAME table in one job, no staging table; `messages(channelId)` prunes
  * to the key's token bucket before any file is opened.
  */
final class MessageStore(spark: SparkSession, keyspace: String) {

  // connector-backed table locations: one directory per keyspace, rooted
  // beside the warehouse; the keyspace's catalog serves exactly this tree
  private val catalogRoot = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file://").stripPrefix("file:")
    s"$wh/graft_tr"
  }
  private val root = s"$catalogRoot/$keyspace"
  MessageStore.register(spark, catalogRoot)

  private val namespace = s"${MessageStore.Catalog}.`$keyspace`"
  private val messagesT = tableName("messages")
  private val usersT = tableName("users")
  private val provider = classOf[graft.sources.connector.TokenRangeSource].getName

  /** Physical location of a keyspace table (test/ops surface). */
  private[graft] def tablePath(table: String): String = s"$root/$table"

  /** Qualified catalog name of a keyspace table. */
  private[graft] def tableName(table: String): String = s"$namespace.$table"

  private val usersPk =
    Window.partitionBy("username").orderBy(desc("write_seq"), desc("user_id"))

  // ---- DDL ----------------------------------------------------------------
  def createKeyspace(): Unit =
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $namespace")

  /** Drops the keyspace's namespace, which deletes its table directories. */
  def dropKeyspace(): Unit =
    spark.sql(s"DROP NAMESPACE IF EXISTS $namespace CASCADE")

  def createTables(): Unit = {
    // the reference's own declaration (`WITH CLUSTERING ORDER BY
    // (message_id DESC)`, server.py:181-183), PHYSICAL as of r14: every
    // insert sorts newest-first within its bucket files via the sink's
    // declared ordering, so the newest-page read pattern scans
    // front-of-file — not a query-time ORDER BY over arrival order. A
    // keyspace whose table already RECORDED a clustering spec keeps it
    // (the spec is fixed at creation; creating the table with a
    // contradicting literal would make every insert refuse — r14
    // review's upgrade-path break).
    val msgCk = graft.sources.connector.TokenRangeSource
      .recordedCk(tablePath("messages")).getOrElse("write_seq DESC")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $messagesT (
         |  channel_id BIGINT, write_seq BIGINT, message_id STRING,
         |  author_id STRING, message STRING)
         |TBLPROPERTIES ('pk' = 'channel_id', 'ck' = '$msgCk')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $usersT (
         |  user_id STRING, username STRING, email STRING, password STRING,
         |  write_seq BIGINT)
         |TBLPROPERTIES ('pk' = 'username')""".stripMargin)
  }

  // ---- writes (append-only, upsert visible at read) -----------------------
  // Strictly increasing write sequence: time-anchored like a v1 timeuuid's
  // time part, but never wrapping or repeating — under a write burst the
  // counter simply runs ahead of the clock (a modulo-wrapped suffix repeats
  // after 1000 writes/ms and can make LWW pick the wrong 'latest' row).
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextSeq(): Long =
    seq.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis() * 1000))

  /** `rows` sorted by owning token bucket, and the write-task count that
    * gives each owning bucket one task (at most the default parallelism).
    * A local frame's partitions are contiguous slices of its rows and
    * `coalesce` merges adjacent ones, so k owning buckets land in at most
    * k + tasks - 1 files, and a one-bucket batch in exactly one. Row
    * order within a batch decides nothing: LWW and newest-first order by
    * `write_seq` and the row ids. */
  private def byBucket[T](rows: Seq[T])(bucket: T => Int): (Seq[T], Int) = {
    val keyed = rows.map(r => bucket(r) -> r).sortBy(_._1)
    (keyed.map(_._2), math.max(1,
      math.min(keyed.map(_._1).distinct.size, spark.sparkContext.defaultParallelism)))
  }

  /** BatchStatement analog: one append of (channel, author, text) rows —
    * atomic at read time via the connector's manifest commit; message_id =
    * uuid, write_seq = the timeuuid's time part. One write task per
    * owning bucket ([[byBucket]]), so a one-channel batch adds one file.
    * The `coalesce` comes after the projections, which Catalyst then
    * folds into the local relation. */
  def insertMessages(rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    val ws = nextSeq()
    val (sorted, tasks) = byBucket(rows)(r => TokenLayout.bucketOfValue(r._1))
    sorted.toDF("channel_id", "author_id", "message")
      .withColumn("write_seq", lit(ws))
      .withColumn("message_id", expr("uuid()"))
      .select("channel_id", "write_seq", "message_id", "author_id", "message")
      .coalesce(tasks)
      .write.mode("append").insertInto(messagesT)
  }

  /** Batch INSERT of users, one write task per owning bucket like
    * [[insertMessages]]. */
  def insertUsers(rows: Seq[(String, String, String, String)]): Unit = {
    import spark.implicits._
    val (sorted, tasks) = byBucket(rows)(r => TokenLayout.bucketOfStringValue(r._2))
    sorted.toDF("user_id", "username", "email", "password")
      .withColumn("write_seq", lit(nextSeq()))
      .coalesce(tasks)
      .write.mode("append").insertInto(usersT)
  }

  // ---- reads --------------------------------------------------------------
  /** One partition in clustering (newest-first) order — the reference's
    * `SELECT * FROM messages WHERE channel_id=?`. The channel predicate is
    * pushed to the connector scan, which plans ONLY the key's owning token
    * bucket (replica-restricted read at cluster scale): one input
    * partition, which `coalesce(1)` declares a single partition, so the
    * global sort runs in that one task with no range exchange and no
    * sampling job. */
  def messages(channelId: Long): DataFrame =
    spark.table(messagesT)
      .filter(col("channel_id") === channelId)
      .coalesce(1)
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
    val dir = tablePath("users")
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
        TokenRangeOps.readTableFiles(spark, dir, snapshotRel, pinned)
          .withColumn("rn", row_number().over(usersPk))
          .filter(col("rn") === 1)
          .select("user_id", "username", "email", "password", "write_seq"),
        snapshotRel, "username", "compact"))
    }
  }
}

object MessageStore {
  /** The token-range catalog every keyspace's tables resolve through. */
  val Catalog = "graft_tr"

  /** Registers [[Catalog]] over `warehouse` in the session, once. A
    * session that already names a different catalog class or warehouse
    * under [[Catalog]] is refused: the catalog manager keeps the first
    * instance it loads under a name. */
  private def register(spark: SparkSession, warehouse: String): Unit = {
    val key = s"spark.sql.catalog.$Catalog"
    val cls = classOf[graft.sources.connector.TokenRangeCatalog].getName
    Seq(key -> cls, s"$key.warehouse" -> warehouse).foreach { case (k, v) =>
      spark.conf.getOption(k) match {
        case None => spark.conf.set(k, v)
        case Some(`v`) => ()
        case Some(other) => throw new IllegalStateException(
          s"$k is '$other'; MessageStore needs '$v'")
      }
    }
  }
}
