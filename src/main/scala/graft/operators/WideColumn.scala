package graft.operators

import graft.{Cols, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.A — the reference's wide-column store surface, re-expressed
  * Spark-first.
  *
  * Mapping (SURVEY.md §3): `events` plays `messages` (partition key =
  * user_id ↔ channel_id, clustering key = ts DESC ↔ timeuuid DESC,
  * reference server.py:176-183); `customer` plays `users`
  * (server.py:263-269). Cassandra's INSERT-is-upsert becomes a
  * last-write-wins window compaction; Murmur3 token ranges become a
  * deterministic token function for range-parallel scans.
  *
  * Scale notes (§5): every partition-key filter is a pushed parquet
  * predicate (at 100 TB the table is written bucketed by token(pk), so the
  * same filter prunes files); LWW compaction is exactly one shuffle on the
  * primary key; the clustering-order rank is computed per partition-key
  * window, never with a global sort.
  */
object WideColumn extends QueryModule {
  import Cols._

  /** Clustering order of the reference's messages table: newest first,
    * ties (none in data) broken by event_id for determinism. */
  private val clusteringDesc =
    Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
  private val lwwByTypeKey =
    Window.partitionBy("user_id", "event_type").orderBy(desc("ts"), desc("event_id"))

  // SELECT * FROM messages WHERE channel_id = ?  (server.py:95)
  def partitionLookup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id") === 42)
      .withColumn("rn", row_number().over(clusteringDesc).cast("long"))
      .select("user_id", "event_id", "ts", "event_type", "value", "rn")

  private val partitionLookupSql =
    """SELECT user_id, event_id, ts, event_type, value,
      | ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |FROM events WHERE user_id = 42""".stripMargin

  // Multi-get: IN-list of partition keys (connector-style multi-partition read).
  def multiPartitionLookup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id").isin(1, 7, 42, 99))
      .withColumn("rn", row_number().over(clusteringDesc).cast("long"))
      .select("user_id", "event_id", "ts", "event_type", "value", "rn")

  private val multiPartitionLookupSql =
    """SELECT user_id, event_id, ts, event_type, value,
      | ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |FROM events WHERE user_id IN (1, 7, 42, 99)""".stripMargin

  // SELECT ... FROM users WHERE username = ?  (server.py:247)
  def pointLookup(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") === 123)
      .select(col("c_custkey").as("user_key"), col("c_name").as("username"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"))

  private val pointLookupSql =
    """SELECT c_custkey AS user_key, c_name AS username, c_mktsegment AS segment,
      | c_acctbal AS acctbal
      |FROM customer WHERE c_custkey = 123""".stripMargin

  // SELECT user_id, username, email FROM users  (server.py:219): projection
  // scan — column pruning must reach the parquet reader.
  def projectionScan(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")

  private val projectionScanSql =
    "SELECT c_custkey, c_name, c_acctbal FROM customer"

  // Cassandra INSERT = upsert: last-write-wins per primary key.
  def upsertLww(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("rn", row_number().over(lwwByTypeKey))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("value").as("latest_value"),
        col("ts").as("write_ts"))

  private[graft] val upsertLwwSql =
    """SELECT user_id, event_type, value AS latest_value, ts AS write_ts FROM (
      |  SELECT user_id, event_type, value, ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t WHERE rn = 1""".stripMargin

  // BatchStatement analog (server.py:186-204): append a batch, read the
  // LWW-compacted view of the written partition.
  def batchInsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val batch = Seq(
      (1000001L, "2024-02-01 00:00:00", 9999L, "signup", 1.0),
      (1000002L, "2024-02-01 00:05:00", 9999L, "click", 2.0),
      (1000003L, "2024-02-01 00:10:00", 9999L, "click", 3.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    Tables.events(s, d).select(cols.map(col): _*)
      .unionByName(batch.select(cols.map(col): _*))
      .withColumn("rn", row_number().over(lwwByTypeKey))
      .filter(col("rn") === 1 && col("user_id") === 9999)
      .select(col("user_id"), col("event_type"), col("value").as("latest_value"),
        col("ts").as("write_ts"))
  }

  private val batchInsertSql =
    """WITH batch(event_id, ts, user_id, event_type, value) AS (VALUES
      |  (1000001, TIMESTAMP '2024-02-01 00:00:00', 9999, 'signup', 1.0),
      |  (1000002, TIMESTAMP '2024-02-01 00:05:00', 9999, 'click', 2.0),
      |  (1000003, TIMESTAMP '2024-02-01 00:10:00', 9999, 'click', 3.0)),
      | unioned AS (
      |  SELECT event_id, ts, user_id, event_type, CAST(value AS DOUBLE) AS value FROM events
      |  UNION ALL
      |  SELECT event_id, ts, user_id, event_type, CAST(value AS DOUBLE) FROM batch)
      |SELECT user_id, event_type, value AS latest_value, ts AS write_ts FROM (
      |  SELECT user_id, event_type, value, ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM unioned) t WHERE rn = 1 AND user_id = 9999""".stripMargin

  /** Murmur3-partitioner analog: deterministic multiplicative token; a
    * token-range scan is how Spark↔Cassandra splits a table into parallel
    * reads (vnode ranges). Chosen to be reproducible in ANSI SQL (no
    * overflow: max user_id × 2654435761 ≪ 2^63). */
  def tokenRangeScan(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("token", pmod(col("user_id") * 2654435761L, lit(1000000007L)))
      .filter(col("token") < 250000000L)
      .select("user_id", "token", "n_rows")

  private val tokenRangeScanSql =
    """SELECT user_id, (user_id * 2654435761) % 1000000007 AS token, COUNT(*) AS n_rows
      |FROM events GROUP BY user_id
      |HAVING (user_id * 2654435761) % 1000000007 < 250000000""".stripMargin

  // ---- the CONNECTOR as a driver entry (r10) -----------------------------
  /** Multi-get THROUGH the DataSource V2 connector: the orders table is
    * written once per (JVM, corpus) through the token-range SINK (DSv2
    * write path, schema-bootstrap + overwrite — the CREATE TABLE +
    * BatchStatement insert shape, server.py:135-141,186-204), then the
    * entry reads back an IN-list of partition keys through the provider,
    * whose pushFilters prunes the scan to the union of the keys' owning
    * token buckets (the replica-restricted multi-get a Cassandra
    * connector plans). Result rows are the raw stored values, so the
    * oracle-vs-entry compare proves the write→read round trip is
    * bit-exact THROUGH the connector, not just the side helper.
    *
    * The 8 keys are derived deterministically (smallest orderkeys ≡ 0
    * mod 97) via a bounded 8-row collect — a real client SUPPLIES its
    * multi-get keys; the harness has to derive them, and isin() needs
    * driver literals for the In() pushdown to exist at all. Table write
    * amortized via the prebuilt-lifecycle cache (one write per corpus,
    * every run after serves reads only — the nightly-build shape). */
  /** Test hook (prebuilt-cache convention; semantics at
    * [[graft.PrebuiltDirs]]) — clears BOTH connector-backed tables. */
  private[graft] def clearConnectorCache(): Unit = {
    graft.PrebuiltDirs.clear("graft_connector_orders")
    graft.PrebuiltDirs.clear("graft_connector_users")
    graft.PrebuiltDirs.clear("graft_connector_snap")
    graft.PrebuiltDirs.clear("graft_connector_del")
    graft.PrebuiltDirs.clear("graft_connector_cmp")
    graft.PrebuiltDirs.clear("graft_connector_ttl")
    graft.PrebuiltDirs.clear("graft_connector_ups")
    graft.PrebuiltDirs.clear("graft_connector_cpk")
    graft.PrebuiltDirs.clear("graft_connector_cck")
    graft.PrebuiltDirs.clear("graft_connector_alt")
    graft.PrebuiltDirs.clear("graft_connector_ckr")
    graft.PrebuiltDirs.clear("graft_connector_cell")
    graft.PrebuiltDirs.clear("graft_connector_sql")
  }

  private def connectorOrdersDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_orders", d) { dir =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.format(classOf[graft.sources.connector.TokenRangeSource].getName)
        .option("pk", "o_orderkey")
        .option("schema",
          "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .mode("overwrite").save(dir)
      dir
    }

  def connectorMultiget(s: SparkSession, d: String): DataFrame = {
    val dir = connectorOrdersDir(s, d)
    val keys = Tables.orders(s, d)
      .filter(col("o_orderkey") % 97 === 0)
      .orderBy(asc("o_orderkey")).limit(8)
      .select("o_orderkey").collect().map(_.getLong(0))
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "o_orderkey").load(dir)
      .filter(col("o_orderkey").isin(keys.map(Long.box): _*))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
  }

  private val connectorMultigetSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderkey IN (
      |  SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
      |  ORDER BY o_orderkey LIMIT 8)""".stripMargin

  // ---- TEXT-partition-key point lookup THROUGH the connector (r11) -------
  /** The reference's `users` table shape (PRIMARY KEY (username) — a TEXT
    * key, server.py:263-269) riding the DSv2 connector end-to-end
    * (VERDICT r10 "missing" #2): a users-shaped projection of `customer`
    * (username = c_name, unique in the generator) is written once per
    * (JVM, corpus) through the token-range sink — string keys ring-hash
    * via xxhash64 over UTF-8, the Murmur3-over-bytes domain of the real
    * partitioner — carrying a TIMESTAMP payload column; the entry reads
    * ONE user back by username, pruned on the driver to the key's owning
    * token bucket (server.py:247's point read as a replica-restricted
    * scan). The oracle compares against a direct customer read, so the
    * hash check proves the TEXT-key + timestamp write→read round trip is
    * bit-exact through the connector, manifest commit included. Lookup
    * key derived deterministically (c_name of the smallest custkey ≡ 0
    * mod 97; bounded 1-row collect — a real client SUPPLIES the key, and
    * EqualTo pushdown needs a driver literal). */
  private def connectorUsersDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_users", d) { dir =>
      Tables.customer(s, d)
        .select(col("c_name").as("username"), col("c_custkey").as("user_id"),
          col("c_acctbal").as("acctbal"),
          timestamp_seconds(col("c_custkey") * 3600).as("created"))
        .write.format(classOf[graft.sources.connector.TokenRangeSource].getName)
        .option("pk", "username")
        .option("schema",
          "username STRING, user_id BIGINT, acctbal DOUBLE, created TIMESTAMP")
        .mode("overwrite").save(dir)
      dir
    }

  def connectorUserLookup(s: SparkSession, d: String): DataFrame = {
    val dir = connectorUsersDir(s, d)
    val key = Tables.customer(s, d)
      .filter(col("c_custkey") % 97 === 0)
      .orderBy(asc("c_custkey")).limit(1)
      .select("c_name").collect().head.getString(0)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "username").load(dir)
      .filter(col("username") === key)
      .select("username", "user_id", "acctbal", "created")
  }

  private val connectorUserLookupSql =
    """SELECT c_name AS username, c_custkey AS user_id, c_acctbal AS acctbal,
      |  make_timestamp(c_custkey * 3600000000) AS created
      |FROM customer WHERE c_name = (
      |  SELECT c_name FROM customer WHERE c_custkey % 97 = 0
      |  ORDER BY c_custkey LIMIT 1)""".stripMargin

  // ---- COMPOSITE-partition-key point lookup THROUGH the connector (r13) --
  /** Cassandra's `PRIMARY KEY ((a, b))` — the most common wide-row idiom
    * beyond single-key tables (VERDICT r12 #8) — riding the connector
    * end-to-end: a lineitem projection keyed on (l_orderkey,
    * l_linenumber) is written once per (JVM, corpus) through the
    * token-range sink, the TUPLE ring-hashed by catalyst's chained
    * xxhash64 (the Murmur3-over-serialized-tuple analog), and the entry
    * reads ONE line back by BOTH equalities — pruned on the driver to the
    * tuple's owning token bucket (partial equality on `l_orderkey` alone
    * cannot be routed, exactly as CQL requires the full partition key).
    * The oracle compares against a direct lineitem read, so the hash
    * check proves the composite write→route→read round trip is bit-exact
    * through the manifest commit. Lookup key derived deterministically
    * (bounded 1-row collect — a real client supplies the key; EqualTo
    * pushdown needs driver literals). */
  private def connectorCompositeDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_cpk", d) { dir =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .write.format(classOf[graft.sources.connector.TokenRangeSource].getName)
        .option("pk", "l_orderkey,l_linenumber")
        .option("schema",
          "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE")
        .mode("overwrite").save(dir)
      dir
    }

  def compositeKeyLookup(s: SparkSession, d: String): DataFrame = {
    val dir = connectorCompositeDir(s, d)
    val kr = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 97 === 0)
      .orderBy(asc("l_orderkey"), desc("l_linenumber")).limit(1)
      .select("l_orderkey", "l_linenumber").collect().head
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "l_orderkey,l_linenumber").load(dir)
      .filter(col("l_orderkey") === kr.getLong(0)
        && col("l_linenumber") === kr.getInt(1))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
  }

  private val compositeKeyLookupSql =
    """WITH k AS (SELECT l_orderkey AS ok, l_linenumber AS ln FROM lineitem
      |  WHERE l_orderkey % 97 = 0
      |  ORDER BY l_orderkey, l_linenumber DESC LIMIT 1)
      |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem, k WHERE l_orderkey = k.ok AND l_linenumber = k.ln""".stripMargin

  // ---- COMPOSITE partition key + CLUSTERING slice in ONE scan (r14) ------
  /** The FULL Cassandra primary-key idiom — `PRIMARY KEY ((a, b), c)`,
    * the shape every time-series keyspace uses (partition = entity tuple,
    * clustering = time) — riding the connector end-to-end (VERDICT r13
    * next-round #5): events keyed on ((user_id, event_type), ts_us) are
    * written through the sink with the clustering key DECLARED, so the
    * write sorts each bucket file by ts_us (DSv2 required ordering — the
    * r14 physical-clustering-order work) and `rollRows` splits buckets
    * into disjoint time slabs. The entry then reads ONE partition's
    * middle-third time slice: tuple equality prunes to the owning token
    * bucket (TokenRanges: 1) AND the ck range prunes file slabs by footer
    * stats (PrunedFiles) — both prunes in the same scan, which is exactly
    * a Cassandra clustering-range read of one partition. Bounds derive
    * from bounded 1-row collects (a real client supplies key and slice);
    * integer arithmetic is mirrored shape-for-shape in the oracle. */
  private def connectorCompositeCkDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_cck", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      // one task per bucket at ingest (the same tuple-ring expression the
      // sink routes by), so rollRows yields ~(bucket rows / 2048) files
      // per bucket, each a disjoint ts slab — the time-window-SSTable
      // layout, at every SF
      val bucketExpr = graft.sources.connector.TokenLayout
        .bucketOfComposite(Seq(col("user_id"), col("event_type")))
      ev.repartition(graft.sources.connector.TokenLayout.Buckets, bucketExpr)
        .write.format(fmt)
        .option("pk", "user_id,event_type").option("ck", "ts_us")
        .option("rollRows", "2048")
        .option("schema",
          "event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT, value DOUBLE")
        .mode("overwrite").save(dir)
      dir
    }

  def compositeClusteredSlice(s: SparkSession, d: String): DataFrame = {
    val dir = connectorCompositeCkDir(s, d)
    val k = Tables.events(s, d).filter(col("user_id") % 7 === 0)
      .orderBy(asc("user_id"), asc("event_type")).limit(1)
      .select("user_id", "event_type").collect().head
    val (uid, et) = (k.getLong(0), k.getString(1))
    val b = Tables.events(s, d)
      .filter(col("user_id") === uid && col("event_type") === et)
      .agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi"))
      .collect().head
    val (lo0, hi0) = (b.getLong(0), b.getLong(1))
    val lo = lo0 + (hi0 - lo0) / 3
    val hi = lo0 + 2 * ((hi0 - lo0) / 3)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "user_id,event_type").option("ck", "ts_us").load(dir)
      .filter(col("user_id") === uid && col("event_type") === et
        && col("ts_us") >= lo && col("ts_us") <= hi)
      .select("event_id", "user_id", "event_type", "ts_us", "value")
  }

  private val compositeClusteredSliceSql =
    """WITH k AS (SELECT user_id AS uid, event_type AS et FROM events
      |    WHERE user_id % 7 = 0 ORDER BY user_id, event_type LIMIT 1),
      |  b AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi
      |    FROM events, k WHERE user_id = k.uid AND event_type = k.et)
      |SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
      |FROM events, k, b
      |WHERE user_id = k.uid AND event_type = k.et
      |  AND epoch_us(ts) >= b.lo + (b.hi - b.lo) // 3
      |  AND epoch_us(ts) <= b.lo + 2 * ((b.hi - b.lo) // 3)""".stripMargin

  // ---- ALTER TABLE ADD through the connector (r14) -----------------------
  /** Schema evolution end-to-end (VERDICT r13 next-round #3 made a
    * driver-graded entry): a customer projection is created through the
    * sink, `TokenRangeOps.addColumn` records a new `seg` column as table
    * METADATA (no file rewritten — CQL's ALTER TABLE ADD), and a second
    * append binds it. The entry reads the whole table back: pre-ALTER
    * rows materialize NULL for `seg` (parquet's added-optional-column
    * contract, served by the reader's per-file present-set), post-ALTER
    * rows carry their written values. The oracle replays the split with
    * a CASE on the same key parity, so the hash check proves both the
    * NULL materialization and the mixed-footer read are bit-exact. */
  private def connectorAlterDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_alt", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      c.filter(col("c_custkey") % 2 === 1)
        .write.format(fmt).option("pk", "c_custkey")
        .option("schema", "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE")
        .mode("append").save(dir)
      graft.sources.connector.TokenRangeOps.addColumn(dir, "seg STRING")
      c.filter(col("c_custkey") % 2 === 0)
        .withColumn("seg", concat(lit("s"), (col("c_custkey") % 5).cast("string")))
        .write.format(fmt).option("pk", "c_custkey")
        .mode("append").save(dir)
      dir
    }

  def alterAddColumn(s: SparkSession, d: String): DataFrame = {
    val dir = connectorAlterDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "c_custkey").load(dir)
      .groupBy("seg")
      .agg(count(lit(1)).as("n_rows"),
        graft.Cols.sumExact(col("c_acctbal"), 2).as("bal_sum"))
  }

  private val alterAddColumnSql =
    """SELECT CASE WHEN c_custkey % 2 = 0
      |    THEN 's' || CAST(c_custkey % 5 AS VARCHAR) END AS seg,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
      |FROM customer GROUP BY 1""".stripMargin

  // ---- SNAPSHOT (time-travel) read through the connector (r11) -----------
  /** Version-pinned read over the manifest history: orders land in TWO
    * appends (odd orderkeys, then even), and the entry aggregates the
    * table AS OF the first append's version — `.option("version", v)`
    * resolves that manifest, whose files outlive later flips (the same
    * property that makes a compaction's read-and-overwrite safe). The
    * oracle aggregates only the odd keys, so the hash check proves the
    * pinned scan reads exactly the old version — a current-version read
    * would include the second append and flip the hash. The Iceberg/
    * Delta time-travel surface, earned by the manifest the atomic
    * commit already needed. Versions on a fresh table: v1 = the empty
    * pre-move pin, v2 = first append, v3 = second — the entry pins
    * versions(dir)(1). */
  private def connectorSnapDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_snap", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      o.filter(col("o_orderkey") % 2 === 1)
        .write.format(fmt).option("pk", "o_orderkey")
        .option("schema", "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .mode("append").save(dir)
      o.filter(col("o_orderkey") % 2 === 0)
        .write.format(fmt).option("pk", "o_orderkey")
        .mode("append").save(dir)
      dir
    }

  def connectorSnapshotRead(s: SparkSession, d: String): DataFrame = {
    val dir = connectorSnapDir(s, d)
    val asOf = graft.sources.connector.TokenRangeSource.versions(dir)(1)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "o_orderkey").option("version", asOf.toString).load(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        Cols.sumExact(col("o_totalprice"), 2).as("sum_price"))
  }

  private val connectorSnapshotReadSql =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderkey % 2 = 1
      |GROUP BY o_orderstatus""".stripMargin

  // ---- row-level DELETE through the connector (r11) -----------------------
  /** CQL `DELETE FROM t WHERE pk IN (...)` (the reference's delete
    * surface) through the DSv2 `SupportsDelete` hook: orders are written
    * once per (JVM, corpus) through the sink, then 8 derived partition
    * keys (smallest ≡ 0 mod 97 — the multiget rule; bounded 8-row
    * collect, a real client supplies its keys) are deleted via
    * `deleteWhere(In(pk, keys))`. The delete is COPY-ON-WRITE at bucket
    * grain: only files in the keys' owning token buckets are rewritten
    * without the matching rows, every other bucket's files survive in
    * the new manifest by reference (TokenRangeDeleteSpec asserts file
    * identity), and the swap is one atomic manifest flip — readers see
    * pre- or post-delete in full, never a mix. The entry then aggregates
    * the CURRENT table version, so the oracle compare (orders minus the
    * derived keys) proves the delete removed exactly those rows and
    * nothing else, end-to-end through the connector. At 100 TB the cost
    * is the affected buckets' rewrite, not a table scan. */
  private def connectorDeleteDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_del", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.format(fmt).option("pk", "o_orderkey")
        .option("schema",
          "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .mode("overwrite").save(dir)
      val keys = Tables.orders(s, d)
        .filter(col("o_orderkey") % 97 === 0)
        .orderBy(asc("o_orderkey")).limit(8)
        .select("o_orderkey").collect().map(_.getLong(0))
      // the DSv2 DELETE surface itself (what `DELETE FROM` plans to),
      // not a side helper
      val provider = new graft.sources.connector.TokenRangeSource()
      val props = new java.util.HashMap[String, String]()
      props.put("path", dir); props.put("pk", "o_orderkey")
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(props)
      provider.getTable(provider.inferSchema(opts), Array.empty, props)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]
        .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.In(
            "o_orderkey", keys.map(Long.box).toArray[Any])))
      dir
    }

  def connectorDelete(s: SparkSession, d: String): DataFrame = {
    val dir = connectorDeleteDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "o_orderkey").load(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        Cols.sumExact(col("o_totalprice"), 2).as("sum_price"))
  }

  private val connectorDeleteSql =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderkey NOT IN (
      |  SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
      |  ORDER BY o_orderkey LIMIT 8)
      |GROUP BY o_orderstatus""".stripMargin

  // ---- per-bucket COMPACTION through the connector (r11) ------------------
  /** Cassandra's compaction (merge many SSTables per range into one) at
    * the connector layer: orders land in THREE appends (keys ≡ 0/1/2
    * mod 3 — every bucket dir accumulates up to 3 part files), then
    * `TokenRangeOps.compact` rewrites the table to ONE file per
    * non-empty token bucket in a single atomic read-and-overwrite job —
    * safe because the read plans the pre-compaction manifest and old
    * files outlive the flip (snapshot isolation; the same property the
    * snapshot-read entry pins versions by). The entry groups the
    * compacted table by the RECOMPUTED ring bucket of each key, so the
    * oracle (the ring arithmetic replayed verbatim in SQL over the raw
    * orders) proves BOTH that compaction preserved every row bit-exactly
    * AND that the Scala ring function and its SQL twin agree — the
    * placement invariant the whole token-range layout rests on.
    * TokenRangeDeleteSpec asserts the physical half: one file per
    * non-empty bucket after, more before, old version still readable. */
  private def connectorCompactDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_cmp", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      (0 until 3).foreach { r =>
        o.filter(col("o_orderkey") % 3 === r)
          .write.format(fmt).option("pk", "o_orderkey")
          .option("schema",
            "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
          .mode("append").save(dir)
      }
      graft.sources.connector.TokenRangeOps.compact(s, dir, "o_orderkey")
      dir
    }

  def connectorCompact(s: SparkSession, d: String): DataFrame = {
    val dir = connectorCompactDir(s, d)
    val t = s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "o_orderkey").load(dir)
    t.groupBy(graft.sources.connector.TokenLayout.bucketOf(col("o_orderkey"))
        .as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        Cols.sumExact(col("o_totalprice"), 2).as("sum_price"))
  }

  private val connectorCompactSql =
    """SELECT CAST(floor(((o_orderkey * 2654435761) % 1000000007) * 16
      |  / 1000000007) AS INT) AS bucket,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1""".stripMargin

  // ---- TTL expiry at the connector layer (r11) ----------------------------
  /** CQL TTL made physical at the connector (wc_ttl_expiry proves the
    * READ-time semantics; this is the tombstone-then-compact half):
    * events land in two appends split at the TTL horizon (the
    * time-correlated ingest shape — each load is one time-slab of
    * files), then `TokenRangeOps.expire` drops rows at-or-before the
    * horizon choosing the cheapest correct move per file from parquet
    * footer min/max stats: wholly-expired files RETIRE from the manifest
    * without being read (Cassandra's drop-the-SSTable fast path),
    * wholly-live files survive by reference, only straddlers lose rows —
    * here the tranche split makes expiry a pure METADATA flip, which is
    * the 100 TB claim (TokenRangeDeleteSpec drives the straddling
    * paths on a mixed fixture). The entry aggregates the
    * post-expiry table through the connector; the oracle filters raw
    * events at the same horizon, so the hash check proves expiry dropped
    * exactly the expired rows. */
  private val TtlCutoffMicros =
    java.time.Instant.parse("2024-01-13T00:00:00Z").getEpochSecond * 1000000L

  private def connectorTtlDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_ttl", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "event_type", "value")
      val cutoff = ts("2024-01-13")
      ev.filter(col("ts") <= cutoff)
        .write.format(fmt).option("pk", "event_id")
        .option("schema",
          "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
        .mode("append").save(dir)
      ev.filter(col("ts") > cutoff)
        .write.format(fmt).option("pk", "event_id")
        .option("schema",
          "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
        .mode("append").save(dir)
      graft.sources.connector.TokenRangeOps.expire(
        s, dir, "event_id", "ts", TtlCutoffMicros)
      dir
    }

  def connectorTtl(s: SparkSession, d: String): DataFrame = {
    val dir = connectorTtlDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "event_id").load(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_alive"),
        Cols.sumExact(col("value"), 2).as("sum_value"))
  }

  private val connectorTtlSql =
    """SELECT event_type, COUNT(*) AS n_alive,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events WHERE ts > TIMESTAMP '2024-01-13'
      |GROUP BY event_type""".stripMargin

  // ---- MERGE-ON-READ TTL (r18, VERDICT r17 #2) ----------------------------
  /** The deletion-vector trilogy's third leg at the driver surface
    * (point deletes = wc_merge_on_read, range tombstones =
    * wc_range_tombstone_mor, TTL = this): `expire` on a
    * three-tranche time-correlated ingest whose middle tranche STRADDLES
    * the cutoff. Wholly-expired files retire from the manifest unread
    * (the drop-the-SSTable fast path), the straddler gets a POSITION
    * vector of exactly its expired rows (its stored rows are within the
    * table's `dml.fallback_rows` bound), wholly-live files survive by
    * reference — and NOTHING is rewritten: require-asserted live-files ⊂
    * before-files (retire-only, no new file) with vectors present.
    * Cassandra's expired-cell semantics exactly: merged out at read,
    * purged at compaction. The oracle filters raw events at the horizon,
    * so the hash proves the vector suppressed exactly the expired rows. */
  private val TtlMorCutoffMicros =
    java.time.Instant.parse("2024-01-11T00:00:00Z").getEpochSecond * 1000000L

  private def ttlMorDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_ttlmor", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "event_type", "value")
      val sch = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
      // three time-slabs: wholly-expired / straddling / wholly-live
      Seq(ev.filter(col("ts") <= ts("2024-01-08")),
          ev.filter(col("ts") > ts("2024-01-08") && col("ts") <= ts("2024-01-15")),
          ev.filter(col("ts") > ts("2024-01-15")))
        .foreach(_.write.format(fmt).option("pk", "event_id")
          .option("schema", sch).mode("append").save(dir))
      val before = graft.sources.connector.TokenRangeOps.liveFiles(dir).toSet
      graft.sources.connector.TokenRangeOps.expire(
        s, dir, "event_id", "ts", TtlMorCutoffMicros)
      val after = graft.sources.connector.TokenRangeOps.liveFiles(dir).toSet
      require(after.subsetOf(before) && after != before,
        "a vector TTL must retire wholly-expired files and rewrite " +
          "nothing: live files must be a strict subset of the pre-expire " +
          "set")
      require(graft.sources.connector.TokenRangeOps
        .deletionVectors(dir).nonEmpty,
        "the straddling file's expired rows must be position-vectored")
      dir
    }

  def ttlMor(s: SparkSession, d: String): DataFrame = {
    val dir = ttlMorDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "event_id").load(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_alive"),
        Cols.sumExact(col("value"), 2).as("sum_value"))
  }

  private val ttlMorSql =
    """SELECT event_type, COUNT(*) AS n_alive,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events WHERE ts > TIMESTAMP '2024-01-11'
      |GROUP BY event_type""".stripMargin

  // ---- INSERT-is-UPSERT through the connector (r11) ------------------------
  /** CQL's write semantic — every INSERT is an upsert by partition key —
    * at the connector layer: orders land through the sink, then the 8
    * derived keys (smallest ≡ 0 mod 97, the suite's multiget rule) are
    * RE-INSERTED with status 'U' and price + 1000, via
    * `TokenRangeOps.upsert`: the incoming rows append and a key vector
    * bound to the keys' owning buckets' files suppresses their old rows
    * (8 rows are far inside the table's `dml.fallback_rows` bound, past
    * which those files would be rewritten instead), every file survives
    * the manifest flip by reference, and the swap is atomic — the BatchStatement-of-upserts
    * shape (server.py's insert path). The entry aggregates the
    * post-upsert table per status; the oracle applies the same
    * replacement to raw orders in SQL, so the hash check proves the
    * upsert replaced exactly those rows (the new 'U' group) and
    * disturbed nothing else. */
  private def connectorUpsertDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_ups", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.format(fmt).option("pk", "o_orderkey")
        .option("schema",
          "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .mode("overwrite").save(dir)
      val incoming = Tables.orders(s, d)
        .filter(col("o_orderkey") % 97 === 0)
        .orderBy(asc("o_orderkey")).limit(8)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
      graft.sources.connector.TokenRangeOps.upsert(s, dir, "o_orderkey", incoming)
      dir
    }

  def connectorUpsert(s: SparkSession, d: String): DataFrame = {
    val dir = connectorUpsertDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "o_orderkey").load(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        Cols.sumExact(col("o_totalprice"), 2).as("sum_price"))
  }

  private val connectorUpsertSql =
    """WITH k AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
      |           ORDER BY o_orderkey LIMIT 8),
      | up AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey IN (SELECT o_orderkey FROM k)
      |         THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
      |    CASE WHEN o_orderkey IN (SELECT o_orderkey FROM k)
      |         THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
      |  FROM orders)
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM up GROUP BY o_orderstatus""".stripMargin

  // ---- the CQL-strings interface as a GRADED entry (r15) ------------------
  /** SQL DDL end-to-end through [[graft.sources.connector
    * .TokenRangeCatalog]] (VERDICT r14 next-round #2, upgraded from
    * spec-only to driver-graded): the reference's whole interface is
    * DDL/DML strings (server.py:176-183, 263-269) — here CREATE
    * NAMESPACE, CREATE TABLE (TBLPROPERTIES pk), INSERT INTO … SELECT,
    * ALTER TABLE ADD COLUMNS, and a post-ALTER column-list INSERT all
    * run through `spark.sql`, exercising the catalog's table resolution,
    * the DSv2 write path behind SQL INSERT, and the CAS edit log behind
    * SQL ALTER. Pre-ALTER rows read NULL for the added column; the
    * oracle replays the parity split with a CASE, so the hash proves the
    * whole SQL round trip bit-exact. One unique catalog name per corpus
    * dir (catalog instances cache their warehouse at first use). */
  /** Catalog (and scratch-view) names carry the SANITIZED full dir path,
    * not a hash (r15 review 2: a 32-bit hashCode collision across two
    * corpus dirs in one JVM would silently alias them to one cached
    * warehouse — CatalogManager instantiates a catalog once per name —
    * and serve wrong-corpus data with no error). */
  private def sqlCatalogOf(s: SparkSession, dir: String): String = {
    val cat = s"graft_sql_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.connector.TokenRangeCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", dir)
    cat
  }

  private def sqlDdlDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_sql", d) { dir =>
      val cat = sqlCatalogOf(s, dir)
      // per-build unique view name (r15 review 2: a fixed name broke the
      // prebuilt cache's harmless-concurrent-double-build contract — one
      // build's dropTempView could yank the view mid-INSERT of the other)
      val src = s"src_$cat"
      s.sql(s"CREATE NAMESPACE $cat.ks")
      s.sql(s"""CREATE TABLE $cat.ks.cust (
        c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)
        TBLPROPERTIES('pk'='c_custkey')""")
      Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
        .createOrReplaceTempView(src)
      s.sql(s"""INSERT INTO $cat.ks.cust
        SELECT c_custkey, c_name, c_acctbal FROM $src
        WHERE c_custkey % 2 = 1""")
      s.sql(s"ALTER TABLE $cat.ks.cust ADD COLUMNS (tier STRING)")
      s.sql(s"""INSERT INTO $cat.ks.cust
        SELECT c_custkey, c_name, c_acctbal,
          't' || CAST(c_custkey % 3 AS STRING) AS tier
        FROM $src WHERE c_custkey % 2 = 0""")
      s.catalog.dropTempView(src)
      dir
    }

  def sqlDdl(s: SparkSession, d: String): DataFrame = {
    val dir = sqlDdlDir(s, d)
    val cat = sqlCatalogOf(s, dir)
    s.table(s"$cat.ks.cust")
      .groupBy("tier")
      .agg(count(lit(1)).as("n_rows"),
        Cols.sumExact(col("c_acctbal"), 2).as("bal_sum"))
  }

  private val sqlDdlSql =
    """SELECT CASE WHEN c_custkey % 2 = 0
      |    THEN 't' || CAST(c_custkey % 3 AS VARCHAR) END AS tier,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
      |FROM customer GROUP BY 1""".stripMargin

  // ---- SQL row-level DML: UPDATE / MERGE / predicate DELETE (r15) ---------
  /** The DML half of the SQL surface (`wc_sql_ddl` covers DDL): `UPDATE`,
    * `MERGE INTO`, and DELETE with a NON-KEY predicate, served through
    * the DSv2 row-level delta operation (SupportsRowLevelOperations +
    * SupportsDelta — the public interface Iceberg/Delta serve the same
    * statements through). The operation pins one snapshot; each
    * statement publishes a position vector over exactly the files that
    * held its matched rows plus its new row images, or, above the
    * table's `dml.fallback_rows` bound, rewrites those files in one
    * conflict-validated flip. Script: load customers, UPDATE a balance
    * bump for keys ≡ 3 (mod 10), DELETE the now-negative balances
    * (non-key predicate — refused by the metadata-only SupportsDelete
    * path, so this IS the row-level path), then MERGE keys ≡ 0 (mod 7):
    * matched rows take a renamed image, rows the DELETE removed
    * re-insert with their original values. The oracle replays the
    * identical script in SQL. */
  private def sqlDmlDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_sqldml", d) { dir =>
      val cat = sqlCatalogOf(s, dir)
      val src = s"dml_$cat"
      s.sql(s"CREATE NAMESPACE $cat.ks")
      s.sql(s"""CREATE TABLE $cat.ks.cust (
        c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)
        TBLPROPERTIES('pk'='c_custkey')""")
      Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
        .createOrReplaceTempView(src)
      s.sql(s"""INSERT INTO $cat.ks.cust
        SELECT c_custkey, c_name, c_acctbal FROM $src""")
      s.sql(s"""UPDATE $cat.ks.cust SET c_acctbal = c_acctbal + 100.0
        WHERE c_custkey % 10 = 3""")
      s.sql(s"DELETE FROM $cat.ks.cust WHERE c_acctbal < 0.0")
      s.sql(s"""MERGE INTO $cat.ks.cust AS t
        USING (SELECT c_custkey, c_name, c_acctbal FROM $src
               WHERE c_custkey % 7 = 0) AS m
        ON t.c_custkey = m.c_custkey
        WHEN MATCHED THEN UPDATE SET t.c_name = concat('m_', m.c_name)
        WHEN NOT MATCHED THEN
          INSERT (c_custkey, c_name, c_acctbal)
          VALUES (m.c_custkey, m.c_name, m.c_acctbal)""")
      s.catalog.dropTempView(src)
      dir
    }

  def sqlUpdateMerge(s: SparkSession, d: String): DataFrame = {
    val dir = sqlDmlDir(s, d)
    val cat = sqlCatalogOf(s, dir)
    s.table(s"$cat.ks.cust")
      .groupBy((col("c_custkey") % 4).as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        Cols.sumExact(col("c_acctbal"), 2).as("bal_sum"),
        count(when(substring(col("c_name"), 1, 2) === "m_", 1)).as("n_merged"))
  }

  private val sqlUpdateMergeSql =
    """WITH upd AS (
      |  SELECT c_custkey, c_name,
      |    CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 100.0
      |         ELSE c_acctbal END AS bal
      |  FROM customer),
      |kept AS (SELECT * FROM upd WHERE bal >= 0.0),
      |merged AS (
      |  SELECT k.c_custkey,
      |    CASE WHEN k.c_custkey % 7 = 0 THEN 'm_' || k.c_name
      |         ELSE k.c_name END AS c_name,
      |    k.bal
      |  FROM kept k
      |  UNION ALL
      |  SELECT c.c_custkey, c.c_name, c.c_acctbal
      |  FROM customer c
      |  WHERE c.c_custkey % 7 = 0
      |    AND NOT EXISTS (SELECT 1 FROM kept WHERE kept.c_custkey = c.c_custkey))
      |SELECT c_custkey % 4 AS grp, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
      |  COUNT(CASE WHEN SUBSTRING(c_name, 1, 2) = 'm_' THEN 1 END) AS n_merged
      |FROM merged GROUP BY 1""".stripMargin

  // ---- clustering-range DELETE through the connector (r15) ----------------
  /** CQL's RANGE TOMBSTONE — `DELETE FROM t WHERE pk = ? AND ck >= a AND
    * ck < b` (VERDICT r14 next-round #3): the delete-one-partition's-
    * time-slice op every retention job runs (the reference analog:
    * messages-table cleanup by time, the channel partition of
    * server.py:95). Events key on user_id with clustering ts_us; the
    * chosen partition's rows land as their own ck-slabbed append
    * (rollRows — the time-slab files a real ingest produces) and
    * `TokenRangeOps.deleteCkRange` drops its middle third: wholly-covered
    * slabs RETIRE from the manifest WITHOUT BEING READ (the TTL
    * whole-file fast path generalized to (key, slice) — file-identity
    * spec-asserted in TokenRangeDeleteSpec), straddlers get a position
    * vector of their in-range rows (a survivor rewrite past the table's
    * `dml.fallback_rows` bound), every other file survives by reference,
    * and it all lands
    * in one conflict-validated atomic flip. The entry aggregates the
    * post-delete table through the connector; the oracle replays the
    * same slice arithmetic over raw events, so the hash check proves the
    * tombstone removed exactly the slice and nothing else. */
  private def connectorCkDelDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_ckr", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      val k = Tables.events(s, d).filter(col("user_id") % 7 === 0)
        .agg(min("user_id")).collect().head.getLong(0)
      ev.filter(col("user_id") =!= k)
        .write.format(fmt).option("pk", "user_id").option("ck", "ts_us")
        .option("schema",
          "event_id BIGINT, user_id BIGINT, ts_us BIGINT, value DOUBLE")
        .mode("append").save(dir)
      // the target partition as its own slabbed append: one task, rolled
      // files = disjoint ts_us slabs of a SINGLE key (time-slab shape)
      ev.filter(col("user_id") === k).repartition(1)
        .write.format(fmt).option("pk", "user_id")
        .option("rollRows", "64")
        .mode("append").save(dir)
      val b = Tables.events(s, d).filter(col("user_id") === k)
        .agg(min(unix_micros(col("ts"))).as("lo"),
          max(unix_micros(col("ts"))).as("hi")).collect().head
      val (lo0, hi0) = (b.getLong(0), b.getLong(1))
      graft.sources.connector.TokenRangeOps.deleteCkRange(s, dir, "user_id", k,
        lo0 + (hi0 - lo0) / 3, lo0 + 2 * ((hi0 - lo0) / 3))
      dir
    }

  def deleteCkRangeEntry(s: SparkSession, d: String): DataFrame = {
    val dir = connectorCkDelDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "user_id").load(dir)
      .groupBy(pmod(col("user_id"), lit(10L)).as("ubucket"))
      .agg(count(lit(1)).as("n_rows"),
        Cols.sumExact(col("value"), 2).as("sum_value"))
  }

  private val deleteCkRangeSql =
    """WITH k AS (SELECT MIN(user_id) AS uid FROM events WHERE user_id % 7 = 0),
      | b AS (SELECT MIN(epoch_us(ts)) AS lo0, MAX(epoch_us(ts)) AS hi0
      |   FROM events, k WHERE user_id = k.uid)
      |SELECT user_id % 10 AS ubucket, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events, k, b
      |WHERE NOT (user_id = k.uid
      |  AND epoch_us(ts) >= b.lo0 + (b.hi0 - b.lo0) // 3
      |  AND epoch_us(ts) <  b.lo0 + 2 * ((b.hi0 - b.lo0) // 3))
      |GROUP BY 1""".stripMargin

  /** MERGE-ON-READ range tombstone (r17): Cassandra's range tombstone is
    * not a rewrite — it is a marker merged at read and purged at
    * compaction, and `deleteCkRange` IS that shape:
    * provably-covered slabs retire from the manifest unread, straddling
    * slabs get a POSITION deletion vector of exactly their in-range rows,
    * and NO survivor row is rewritten (require-asserted: the live file
    * set after the delete is a subset of before — retire-class drops,
    * nothing new). The hot-partition time-slice delete (clean one hour
    * of one channel, messages-table retention, server.py's workload
    * shape) then costs one tiny sidecar + one manifest flip instead of
    * rewriting the partition's files. Oracle replays the slice
    * arithmetic relationally, so the hash proves the tombstone removed
    * exactly the slice — through the vector-merged read path. */
  private def rangeTombstoneMorDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_ckrmor", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      val k = Tables.events(s, d).filter(col("user_id") % 11 === 0)
        .agg(min("user_id")).collect().head.getLong(0)
      ev.filter(col("user_id") =!= k)
        .write.format(fmt).option("pk", "user_id").option("ck", "ts_us")
        .option("schema",
          "event_id BIGINT, user_id BIGINT, ts_us BIGINT, value DOUBLE")
        .mode("append").save(dir)
      // the target partition as disjoint time slabs (one task, rolled)
      ev.filter(col("user_id") === k).repartition(1)
        .write.format(fmt).option("pk", "user_id")
        .option("rollRows", "64")
        .mode("append").save(dir)
      val b = Tables.events(s, d).filter(col("user_id") === k)
        .agg(min(unix_micros(col("ts"))).as("lo"),
          max(unix_micros(col("ts"))).as("hi")).collect().head
      val (lo0, hi0) = (b.getLong(0), b.getLong(1))
      val before = graft.sources.connector.TokenRangeOps.liveFiles(dir).toSet
      graft.sources.connector.TokenRangeOps.deleteCkRange(s, dir, "user_id", k,
        lo0 + (hi0 - lo0) / 3, lo0 + 2 * ((hi0 - lo0) / 3))
      val after = graft.sources.connector.TokenRangeOps.liveFiles(dir).toSet
      require(after.subsetOf(before),
        "a merge-on-read range tombstone must write NO data file " +
          "(covered slabs retire, straddlers are vector-suppressed)")
      require(graft.sources.connector.TokenRangeOps
        .deletionVectors(dir).nonEmpty,
        "the straddling slabs must carry a position vector")
      dir
    }

  def rangeTombstoneMor(s: SparkSession, d: String): DataFrame = {
    val dir = rangeTombstoneMorDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "user_id").load(dir)
      .groupBy(pmod(col("user_id"), lit(10L)).as("ubucket"))
      .agg(count(lit(1)).as("n_rows"),
        Cols.sumExact(col("value"), 2).as("sum_value"))
  }

  private val rangeTombstoneMorSql =
    """WITH k AS (SELECT MIN(user_id) AS uid FROM events WHERE user_id % 11 = 0),
      | b AS (SELECT MIN(epoch_us(ts)) AS lo0, MAX(epoch_us(ts)) AS hi0
      |   FROM events, k WHERE user_id = k.uid)
      |SELECT user_id % 10 AS ubucket, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events, k, b
      |WHERE NOT (user_id = k.uid
      |  AND epoch_us(ts) >= b.lo0 + (b.hi0 - b.lo0) // 3
      |  AND epoch_us(ts) <  b.lo0 + 2 * ((b.hi0 - b.lo0) // 3))
      |GROUP BY 1""".stripMargin

  // ---- per-CELL last-write-wins through the connector (r15) ---------------
  /** Cassandra resolves upserts per CELL, not per row (VERDICT r14
    * next-round #5): an UPDATE binding a column subset stamps only those
    * cells, and a read merges the newest value per column ACROSS writes.
    * Two `TokenRangeOps.upsertCells` rounds bind DISJOINT subsets for
    * the same 8 derived keys — round 1 stamps c_name, round 2 stamps
    * c_acctbal — plus one NEW key binding only c_acctbal. The final read
    * must show round-1 names SURVIVING round-2's balance stamp (a
    * whole-row replace would null them and flip the oracle's n_named),
    * untouched cells keeping their creation values, and the new key
    * materializing with NULL unbound cells. The oracle replays the cell
    * merge with CASE expressions over raw customers. */
  private def connectorCellDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_cell", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .write.format(fmt).option("pk", "c_custkey")
        .option("schema",
          "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING")
        .mode("overwrite").save(dir)
      val k8 = Tables.customer(s, d).filter(col("c_custkey") % 97 === 0)
        .orderBy(asc("c_custkey")).limit(8)
      graft.sources.connector.TokenRangeOps.upsertCells(s, dir, "c_custkey",
        k8.select(col("c_custkey"),
          concat(lit("CELL-"), (col("c_custkey") % 5).cast("string")).as("c_name")))
      val s2 = s; import s2.implicits._
      graft.sources.connector.TokenRangeOps.upsertCells(s, dir, "c_custkey",
        k8.select(col("c_custkey"), (col("c_acctbal") + 1000.0).as("c_acctbal"))
          .unionByName(Seq((1999999999L, 42.0)).toDF("c_custkey", "c_acctbal")))
      dir
    }

  def cellLww(s: SparkSession, d: String): DataFrame = {
    val dir = connectorCellDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "c_custkey").load(dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"),
        count(col("c_name")).as("n_named"),
        Cols.sumExact(col("c_acctbal"), 2).as("bal_sum"))
  }

  private val cellLwwSql =
    """WITH k AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
      |           ORDER BY c_custkey LIMIT 8),
      | up AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey IN (SELECT c_custkey FROM k)
      |         THEN 'CELL-' || CAST(c_custkey % 5 AS VARCHAR)
      |         ELSE c_name END AS c_name,
      |    CASE WHEN c_custkey IN (SELECT c_custkey FROM k)
      |         THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal,
      |    c_mktsegment
      |  FROM customer
      |  UNION ALL
      |  SELECT 1999999999, NULL, 42.0, NULL)
      |SELECT c_mktsegment, COUNT(*) AS n_rows,
      |  COUNT(c_name) AS n_named,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
      |FROM up GROUP BY c_mktsegment""".stripMargin

  // TTL semantics: rows expire writetime + TTL; read at a fixed "now".
  def ttlExpiry(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("ts") > ts("2024-01-13")) // ts + 7d TTL > read-time 2024-01-20
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_alive"), min("ts").as("oldest"), max("ts").as("newest"))

  private val ttlExpirySql =
    """SELECT event_type, COUNT(*) AS n_alive, MIN(ts) AS oldest, MAX(ts) AS newest
      |FROM events WHERE ts > TIMESTAMP '2024-01-13' GROUP BY event_type""".stripMargin

  // Clustering-key range slice inside one partition.
  def clusteringSlice(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id") === 42
        && col("ts") >= ts("2024-01-05") && col("ts") < ts("2024-01-15"))
      .withColumn("rn", row_number().over(clusteringDesc).cast("long"))
      .select("user_id", "event_id", "ts", "event_type", "value", "rn")

  private val clusteringSliceSql =
    """SELECT user_id, event_id, ts, event_type, value,
      | ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |FROM events WHERE user_id = 42
      |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-15'""".stripMargin

  // Secondary-index analog: filter on a non-key column (pushed predicate).
  def secondaryIndex(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "error")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_errors"), max("ts").as("last_error_ts"))

  private val secondaryIndexSql =
    """SELECT user_id, COUNT(*) AS n_errors, MAX(ts) AS last_error_ts
      |FROM events WHERE event_type = 'error' GROUP BY user_id""".stripMargin

  /** CQL's INSERT-IS-UPSERT as the WRITE PATH's semantic (r17): the
    * reference's whole write surface is upsert-by-key (server.py's
    * INSERTs never check existence), and `wc_upsert_lww` models it
    * READ-side (LWW view over blind appends) while
    * `TBLPROPERTIES('insert'='upsert')` now makes it WRITE-side: a
    * plain SQL INSERT publishes a KEY deletion vector over the incoming
    * keys' pre-existing files in the same flip its new generation
    * appends — blind write (no existing data read), old generations
    * tombstoned at read, purged at compaction. Require-asserted: no
    * pre-existing file is rewritten or retired, and the vector
    * publishes. Small single-column-key batches narrow the binding by
    * the cached pk bloom/dictionary probes, so a disjoint-key INSERT
    * stays a pure append. Oracle replays the replacement with CASE. */
  private def insertUpsertDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_insup", d) { dir =>
      val cat = sqlCatalogOf(s, dir)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ks")
      s.sql(s"""CREATE TABLE $cat.ks.uorders
        (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
        TBLPROPERTIES('pk'='o_orderkey', 'insert'='upsert')""")
      val src = s"srcinsup_$cat"
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .createOrReplaceTempView(src)
      s.sql(s"INSERT INTO $cat.ks.uorders SELECT * FROM $src")
      val path = new java.io.File(new java.io.File(dir, "ks"), "uorders")
        .getAbsolutePath
      val before = graft.sources.connector.TokenRangeOps.liveFiles(path).toSet
      // RE-insert a sliver with patched values: CQL says replaced
      s.sql(s"INSERT INTO $cat.ks.uorders " +
        s"SELECT o_orderkey, 'R', o_totalprice + 1000.0 FROM $src " +
        "WHERE o_orderkey % 173 = 0")
      val after = graft.sources.connector.TokenRangeOps.liveFiles(path).toSet
      require(before.subsetOf(after),
        "insert-upsert is a blind write: no pre-existing file may be " +
          "rewritten or retired")
      require(graft.sources.connector.TokenRangeOps
        .deletionVectors(path).nonEmpty,
        "the replaced keys' files must carry a key vector")
      dir
    }

  def insertUpsert(s: SparkSession, d: String): DataFrame = {
    val dir = insertUpsertDir(s, d)
    val cat = sqlCatalogOf(s, dir)
    s.sql(s"SELECT o_orderstatus, COUNT(*) AS n_orders, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
      s"FROM $cat.ks.uorders GROUP BY o_orderstatus")
  }

  private val insertUpsertSql =
    """WITH t AS (
      |  SELECT
      |    CASE WHEN o_orderkey % 173 = 0 THEN 'R'
      |         ELSE o_orderstatus END AS o_orderstatus,
      |    CASE WHEN o_orderkey % 173 = 0 THEN o_totalprice + 1000.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders)
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM t GROUP BY o_orderstatus""".stripMargin

  /** CQL's INSERT-IS-UPSERT on a CLUSTERED table (r18, VERDICT r17 #1 —
    * the last CQL-divergent write shape): the reference's literal
    * hottest write is a blind INSERT into the clustered `messages`
    * table (server.py:186-207), which CQL upserts by the full
    * (channel_id, message_id) primary key — re-delivered writes replace,
    * never duplicate, and OTHER messages of the channel are untouched.
    * Here events plays messages: pk = user_id (the channel), ck =
    * event_id (the message id — (user_id, event_id) is unique in the
    * corpus, like (channel_id, message_id)); the re-INSERT patches a
    * sliver of event_ids, so the oracle's hash also proves CK SIBLING
    * SURVIVAL (the same users' other events keep their original values
    * — a pk-grain vector would have tombstoned them). The statement
    * inserts each patched row TWICE (the redelivery shape): intra-batch
    * LWW keeps exactly one — the commit keeps each (pk, ck)'s last-written
    * row before it appends, still a blind write for the stored rows.
    * Require-asserted: no pre-existing file is rewritten or retired, and
    * the key vector publishes. */
  private def insertUpsertClusteredDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_insupck", d) { dir =>
      val cat = sqlCatalogOf(s, dir)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ks")
      s.sql(s"""CREATE TABLE $cat.ks.umsgs
        (user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE)
        TBLPROPERTIES('pk'='user_id', 'ck'='event_id',
          'insert'='upsert')""")
      val src = s"srcinsupck_$cat"
      Tables.events(s, d)
        .select("user_id", "event_id", "event_type", "value")
        .createOrReplaceTempView(src)
      s.sql(s"INSERT INTO $cat.ks.umsgs SELECT * FROM $src")
      val path = new java.io.File(new java.io.File(dir, "ks"), "umsgs")
        .getAbsolutePath
      val before = graft.sources.connector.TokenRangeOps.liveFiles(path).toSet
      // redelivered writes: each patched (pk, ck) row lands TWICE in ONE
      // statement — CQL keeps one row per key; the commit drops the
      // intra-batch loser before it appends
      val sliver = "SELECT user_id, event_id, " +
        "'redelivered' AS event_type, value + 5.0 AS value " +
        s"FROM $src WHERE event_id % 37 = 0"
      s.sql(s"INSERT INTO $cat.ks.umsgs $sliver UNION ALL $sliver")
      val after = graft.sources.connector.TokenRangeOps.liveFiles(path).toSet
      require(before.subsetOf(after),
        "clustered insert-upsert is a blind write: no pre-existing file " +
          "may be rewritten or retired")
      require(graft.sources.connector.TokenRangeOps
        .deletionVectors(path).nonEmpty,
        "the replaced (pk, ck) tuples' files must carry a key vector")
      dir
    }

  def insertUpsertClustered(s: SparkSession, d: String): DataFrame = {
    val dir = insertUpsertClusteredDir(s, d)
    val cat = sqlCatalogOf(s, dir)
    s.sql(s"SELECT event_type, COUNT(*) AS n_events, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) " +
      s"AS sum_value FROM $cat.ks.umsgs GROUP BY event_type")
  }

  private val insertUpsertClusteredSql =
    """WITH t AS (
      |  SELECT
      |    CASE WHEN event_id % 37 = 0 THEN 'redelivered'
      |         ELSE event_type END AS event_type,
      |    CASE WHEN event_id % 37 = 0 THEN value + 5.0
      |         ELSE value END AS value
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM t GROUP BY event_type""".stripMargin

  /** Cassandra 2i/SAI made PHYSICAL (r17, VERDICT r16 stretch — the step
    * past wc_secondary_index's honest pushdown scan): a DECLARED indexed
    * non-key TEXT column gets a per-file parquet value BLOOM at write
    * time (`TBLPROPERTIES('index'='session')` / CREATE INDEX), and a
    * non-key equality scan probes it to DROP files that provably lack
    * the value — the only per-file prune TEXT payloads can get (zone
    * maps need integral stats; the pk bloom only serves key probes). The
    * builder loads tranches disjoint on the indexed value (the
    * time/entity-correlated ingest shape where an index pays) and
    * require-asserts the plan kept a STRICT file subset. At 100 TB this
    * is the difference between opening every SSTable for a
    * `WHERE session = ?` and opening the few that can hold it. */
  private def saiIndexDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_sai", d) { dir =>
      val cat = sqlCatalogOf(s, dir)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ks")
      s.sql(s"""CREATE TABLE $cat.ks.sorders
        (o_orderkey BIGINT, session STRING, o_orderstatus STRING,
         o_totalprice DOUBLE)
        TBLPROPERTIES('pk'='o_orderkey', 'index'='session')""")
      val src = s"srcsai_$cat"
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          concat(lit("s"), col("o_custkey") % 1024).as("session"),
          col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView(src)
      // tranche loads DISJOINT on the indexed value ((custkey%1024)%4 ==
      // custkey%4): each file then holds one slice of the session domain
      // — the correlated-ingest layout where a value bloom bites
      (0 until 4).foreach { r =>
        s.sql(s"INSERT INTO $cat.ks.sorders SELECT * FROM $src " +
          s"WHERE CAST(SUBSTRING(session, 2) AS BIGINT) % 4 = $r")
      }
      // prove the prune: the probe keeps a strict subset of the files
      // (widen the description truncation bound — r18: the default 100
      // chars cut the PrunedFiles tail off longer tmp-dir paths)
      val confKey = "spark.sql.maxMetadataStringLength"
      val prev = s.conf.get(confKey, "100")
      s.conf.set(confKey, "4000")
      try {
        val probe = s.sql(
          s"SELECT * FROM $cat.ks.sorders WHERE session = 's1'")
        val plan = probe.queryExecution.executedPlan.toString()
        val pruned = "PrunedFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
        require(pruned.isDefined &&
          pruned.get.group(1).toInt < pruned.get.group(2).toInt,
          s"indexed TEXT equality must keep a strict file subset: " +
            plan.take(400))
      } finally s.conf.set(confKey, prev)
      dir
    }

  def saiIndex(s: SparkSession, d: String): DataFrame = {
    val dir = saiIndexDir(s, d)
    val cat = sqlCatalogOf(s, dir)
    s.sql(s"SELECT o_orderstatus, COUNT(*) AS n_orders, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
      s"FROM $cat.ks.sorders WHERE session = 's1' GROUP BY o_orderstatus")
  }

  private val saiIndexSql =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_custkey % 1024 = 1
      |GROUP BY o_orderstatus""".stripMargin

  /** MULTI-CLUSTERING-KEY tables (r18, VERDICT r17 missing #6):
    * `PRIMARY KEY ((user_id), ts, event_id)` — CQL's full clustering
    * LIST, not just one column. The declared spec flows through the one
    * parse funnel everywhere it matters: the write declares the FULL
    * lexicographic (ts, event_id) sort to Catalyst
    * (RequiresDistributionAndOrdering), so every bucket file is a
    * (ts, event_id) slab; the scan's slice prune keys on EVERY
    * component's footer stats independently; and the slab layout makes
    * the leader-range prune bite. Builder loads four time-correlated
    * tranches (each bucket gets one file per time slab — the ingest
    * shape of the reference's message log) and require-asserts a ts
    * slice keeps a STRICT file subset. The entry pages one user's one
    * week — `user_id = ? AND ts >= ? AND ts < ?` — the reference's
    * channel-history read (server.py:95-105) with a real time-slice
    * prune under it. */
  private def multiCkDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_multick", d) { dir =>
      val cat = sqlCatalogOf(s, dir)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ks")
      s.sql(s"""CREATE TABLE $cat.ks.mevents
        (user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING,
         value DOUBLE)
        TBLPROPERTIES('pk'='user_id', 'ck'='ts, event_id')""")
      val src = s"srcmck_$cat"
      Tables.events(s, d)
        .select("user_id", "ts", "event_id", "event_type", "value")
        .createOrReplaceTempView(src)
      // four time-correlated tranches: each load is one time slab of
      // files per bucket, the layout the leader-range prune selects in
      Seq("ts <= TIMESTAMP '2024-01-08'",
        "ts > TIMESTAMP '2024-01-08' AND ts <= TIMESTAMP '2024-01-15'",
        "ts > TIMESTAMP '2024-01-15' AND ts <= TIMESTAMP '2024-01-22'",
        "ts > TIMESTAMP '2024-01-22'").foreach { w =>
        s.sql(s"INSERT INTO $cat.ks.mevents SELECT * FROM $src WHERE $w")
      }
      // prove the prefix-slice prune: a leader (ts) range keeps a strict
      // subset of the one probed bucket's files. Plan descriptions
      // truncate at maxMetadataStringLength (default 100) BEFORE the
      // PrunedFiles tail on tmp-dir paths — widen for the assert.
      val confKey = "spark.sql.maxMetadataStringLength"
      val prev = s.conf.get(confKey, "100")
      s.conf.set(confKey, "4000")
      try {
        val probe = s.sql(s"SELECT * FROM $cat.ks.mevents WHERE user_id = 7 " +
          "AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-14'")
        val plan = probe.queryExecution.executedPlan.toString()
        val pruned = "PrunedFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
        require(pruned.isDefined &&
          pruned.get.group(1).toInt < pruned.get.group(2).toInt,
          s"a clustering-leader time slice must keep a strict file subset: " +
            plan.take(400))
      } finally s.conf.set(confKey, prev)
      dir
    }

  def multiCkSlice(s: SparkSession, d: String): DataFrame = {
    val dir = multiCkDir(s, d)
    val cat = sqlCatalogOf(s, dir)
    s.sql(s"SELECT ts, event_id, event_type, value FROM $cat.ks.mevents " +
      "WHERE user_id = 7 AND ts >= TIMESTAMP '2024-01-10' " +
      "AND ts < TIMESTAMP '2024-01-14'")
  }

  private val multiCkSliceSql =
    """SELECT ts, event_id, event_type, value FROM events
      |WHERE user_id = 7 AND ts >= TIMESTAMP '2024-01-10'
      |  AND ts < TIMESTAMP '2024-01-14'""".stripMargin

  /** Cassandra collection/dynamic-column analog: `props` is a JSON map
    * column (wide-column dynamic columns); extract a typed field with a
    * codegen'd per-row parse, then aggregate. At 100 TB the parse is
    * map-side, before the single group shuffle. */
  def collectionMap(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), min("k").as("k_min"),
        max("k").as("k_max"), sum(col("k")).as("k_sum"),
        countDistinct(col("k")).as("k_distinct"))

  private val collectionMapSql =
    """SELECT event_type, COUNT(CAST(props->>'k' AS BIGINT)) AS n_with_k,
      | MIN(CAST(props->>'k' AS BIGINT)) AS k_min,
      | MAX(CAST(props->>'k' AS BIGINT)) AS k_max,
      | CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
      | COUNT(DISTINCT CAST(props->>'k' AS BIGINT)) AS k_distinct
      |FROM events GROUP BY event_type""".stripMargin

  /** Cassandra materialized-view analog: an MV is the SAME data under a
    * DIFFERENT primary key — a globally re-partitioned table the server
    * maintains (unlike a 2i, which is a per-node local index; that analog
    * is wc_secondary_index). Here: events re-keyed from (user_id | ts) to
    * (event_type | ts DESC), read like any partition — newest 50 rows per
    * new partition key. At 100 TB the MV is a bucketed copy written by the
    * same one-shuffle repartition this plan performs. */
  def materializedView(s: SparkSession, d: String): DataFrame = {
    val mvClustering = Window.partitionBy("event_type").orderBy(desc("ts"), desc("event_id"))
    Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("user_id"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(mvClustering).cast("long"))
      .filter(col("rn") <= 50)
  }

  private val materializedViewSql =
    """SELECT event_type, ts, user_id, event_id, value, rn FROM (
      |  SELECT event_type, ts, user_id, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t WHERE rn <= 50""".stripMargin

  /** Cassandra counter-column analog: counters are blind commutative
    * increments merged at read/compaction — never read-modify-write. The
    * Spark re-expression is the same algebra: increments (click values per
    * user) are an append-only log; the counter READ is an associative
    * exact-decimal sum per primary key — map-side partial aggregation IS
    * the counter merge, so the shape is one shuffle at any scale. */
  def counterColumn(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "click")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_increments"),
        sumExact(col("value"), 2).as("counter_value"))

  private[graft] val counterColumnSql =
    """SELECT user_id, COUNT(*) AS n_increments,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS counter_value
      |FROM events WHERE event_type = 'click' GROUP BY user_id""".stripMargin

  /** Cassandra DELETE = a tombstone write: a deletion marker with its own
    * writetime that shadows all writes at-or-before it, purged together with
    * the shadowed rows at compaction. The compacted READ view: per primary
    * key (user_id, event_type), rank writes AND tombstones by writetime
    * (ties: tombstone's higher event_id wins, matching Cassandra's
    * delete-wins tie rule); if the newest cell is a tombstone the key is
    * gone, else it is live. Writes NEWER than the marker survive — the
    * timestamp-ordered delete semantics the r1 surface (upsert/TTL) lacked. */
  def deleteTombstone(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tombstones = Seq(
      (9000001L, "2024-01-10 00:00:00", 42L, "click"),
      (9000002L, "2024-01-10 00:00:00", 42L, "view"))
      .toDF("event_id", "ts_s", "user_id", "event_type")
      .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"),
        lit(null).cast("double").as("value"), lit(1L).as("tomb"))
    Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .withColumn("tomb", lit(0L))
      .unionByName(tombstones)
      .filter(col("user_id") === 42)
      .withColumn("rn", row_number().over(lwwByTypeKey))
      .filter(col("rn") === 1 && col("tomb") === 0L)
      .select(col("user_id"), col("event_type"), col("value").as("latest_value"),
        col("ts").as("write_ts"))
  }

  private val deleteTombstoneSql =
    """WITH tomb(event_id, ts, user_id, event_type) AS (VALUES
      |  (9000001, TIMESTAMP '2024-01-10 00:00:00', 42, 'click'),
      |  (9000002, TIMESTAMP '2024-01-10 00:00:00', 42, 'view')),
      | unioned AS (
      |  SELECT event_id, ts, user_id, event_type, CAST(value AS DOUBLE) AS value, 0 AS tomb
      |  FROM events
      |  UNION ALL
      |  SELECT event_id, ts, user_id, event_type, CAST(NULL AS DOUBLE), 1 FROM tomb)
      |SELECT user_id, event_type, value AS latest_value, ts AS write_ts FROM (
      |  SELECT user_id, event_type, value, ts, tomb,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM unioned WHERE user_id = 42) t
      |WHERE rn = 1 AND tomb = 0""".stripMargin

  /** Partition-size distribution — the wide-partition health check every
    * Cassandra operator runs (a partition orders of magnitude larger than
    * its peers is the node-hotspot / compaction-stall smell). Rows per
    * partition key, bucketed by DIGIT COUNT (length of the decimal string:
    * exact and portable, where floor(log10(n)) sits on an IEEE boundary at
    * powers of ten), with per-bucket partition counts and the largest
    * partition. Two exact aggregations, no floating point anywhere. */
  def partitionStats(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"))
      .groupBy(length(col("n_rows").cast("string")).cast("long").as("n_digits"))
      .agg(count(lit(1)).as("n_partitions"), max("n_rows").as("largest"),
        sum("n_rows").as("total_rows"))

  private val partitionStatsSql =
    """WITH p AS (SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id)
      |SELECT CAST(length(CAST(n_rows AS VARCHAR)) AS BIGINT) AS n_digits,
      | COUNT(*) AS n_partitions, MAX(n_rows) AS largest,
      | CAST(SUM(n_rows) AS BIGINT) AS total_rows
      |FROM p GROUP BY 1""".stripMargin

  /** One LWW pass: newest write per (user_id, event_type), tombstones kept
    * (they must keep shadowing in later merges, like Cassandra tombstones
    * surviving until gc_grace). Input needs event_id/ts/user_id/event_type/
    * value/tomb columns. */
  def compactLww(writes: DataFrame): DataFrame =
    writes.withColumn("rn", row_number().over(lwwByTypeKey))
      .filter(col("rn") === 1).drop("rn")

  /** INCREMENTAL compaction merge — Cassandra's actual bulk operation: an
    * already-compacted base (one row per key) + a compacted delta (the
    * flushed memtable) → merged view, newest cell per key, delete-wins on
    * ties. A FULL OUTER JOIN on the key, NOT a recompute over base∪delta:
    * the base (the 100 TB side) is never re-windowed, and on the bucketed
    * layout (Layout.writeBucketed by user_id) the join needs NO exchange on
    * either side — HashPartitioning(user_id) satisfies the join's
    * clustering on (user_id, event_type) — so incremental compaction costs
    * O(read base + delta), zero base shuffle (LayoutSpec proves the
    * no-Exchange plan). Tombstone winners stay in the output here; the
    * read view filters them (purge). */
  def mergeCompacted(base: DataFrame, delta: DataFrame): DataFrame = {
    val cols = Seq("ts", "event_id", "value", "tomb")
    val b = base.select(col("user_id") +: col("event_type") +:
      cols.map(c => col(c).as(s"b_$c")): _*)
    val dl = delta.select(col("user_id") +: col("event_type") +:
      cols.map(c => col(c).as(s"d_$c")): _*)
    val deltaWins = col("b_ts").isNull ||
      col("d_ts") > col("b_ts") ||
      (col("d_ts") === col("b_ts") && col("d_event_id") >= col("b_event_id"))
    def pick(c: String) =
      when(col("d_ts").isNotNull && deltaWins, col(s"d_$c")).otherwise(col(s"b_$c")).as(c)
    b.join(dl, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id") +: col("event_type") +: cols.map(pick): _*)
  }

  /** Incremental LWW compaction entry: base = compacted history before the
    * cutoff, delta = the new batch (writes after the cutoff + two DELETE
    * tombstones), output = merged read view with tombstone winners purged.
    * The ORACLE is the defining property of compaction: the incremental
    * merge must equal one-shot LWW compaction over ALL writes — so the
    * DuckDB side recomputes from scratch and any merge bug (wrong side
    * wins, tombstone leak, dropped base key) hash-mismatches. */
  def compactionIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cutoff = ts("2024-01-15")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val tombstones = Seq(
      (9100001L, "2024-01-20 00:00:00", 42L, "click"),
      (9100002L, "2024-01-20 00:00:00", 7L, "view"))
      .toDF("event_id", "ts_s", "user_id", "event_type")
      .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"),
        lit(null).cast("double").as("value"), lit(1L).as("tomb"))
    val base = compactLww(ev.filter(col("ts") < cutoff).withColumn("tomb", lit(0L)))
    val delta = compactLww(
      ev.filter(col("ts") >= cutoff).withColumn("tomb", lit(0L))
        .unionByName(tombstones))
    mergeCompacted(base, delta)
      .filter(col("tomb") === 0L)
      .select(col("user_id"), col("event_type"), col("value").as("latest_value"),
        col("ts").as("write_ts"))
  }

  private val compactionIncrementalSql =
    """WITH tomb(event_id, ts, user_id, event_type) AS (VALUES
      |  (9100001, TIMESTAMP '2024-01-20 00:00:00', 42, 'click'),
      |  (9100002, TIMESTAMP '2024-01-20 00:00:00', 7, 'view')),
      | unioned AS (
      |  SELECT event_id, ts, user_id, event_type, CAST(value AS DOUBLE) AS value, 0 AS tomb
      |  FROM events
      |  UNION ALL
      |  SELECT event_id, ts, user_id, event_type, CAST(NULL AS DOUBLE), 1 FROM tomb)
      |SELECT user_id, event_type, value AS latest_value, ts AS write_ts FROM (
      |  SELECT user_id, event_type, value, ts, tomb,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM unioned) t WHERE rn = 1 AND tomb = 0""".stripMargin

  /** SCD2 version history from a change log: every write to a (user_id,
    * event_type) cell becomes a version row with a validity interval —
    * the full-history twin of the LWW register (wc_upsert_lww keeps only
    * the winner; this keeps every superseded value with valid_from/
    * valid_to, the dimension-history shape warehouse MERGEs maintain).
    * Keeps the event_id anchor so a base table can be rebuilt
    * incrementally. One window shuffle on the cell key. */
  private def scd2History(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    changes
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead("ts", 1).over(w))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("value").as("attr_value"), col("ts").as("valid_from"),
        col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).as("is_current"),
        col("version"))
  }

  /** INCREMENTAL SCD2 merge: base history (built from pre-cutoff changes —
    * standing in for the already-materialized dimension table) + a delta
    * change batch → merged history. Keys untouched by the delta pass
    * through without recomputation (left_anti against the distinct delta
    * key set — a broadcast at scale, since a delta batch is small vs the
    * dimension); touched keys alone are rebuilt from their base versions +
    * delta rows. The ORACLE is the one-shot full-history recompute over
    * all changes — hash-equality proves incremental maintenance ==
    * recompute, the invariant a production MERGE pipeline must keep. */
  def scd2Merge(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("2024-01-25").cast("timestamp")
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"), col("value"))
    val base = scd2History(ev.filter(col("ts") < cutoff))
    val delta = ev.filter(col("ts") >= cutoff)
    val touched = delta.select("user_id", "event_type").distinct()
    val untouched = base.join(touched, Seq("user_id", "event_type"), "left_anti")
    val reopened = base
      .join(touched, Seq("user_id", "event_type"), "left_semi")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("valid_from").as("ts"), col("attr_value").as("value"))
    val rebuilt = scd2History(reopened.unionByName(
      delta.select("user_id", "event_type", "event_id", "ts", "value")))
    untouched.unionByName(rebuilt).drop("event_id")
  }

  private val scd2MergeSql =
    """SELECT user_id, event_type, value AS attr_value, ts AS valid_from,
      | lead(ts) OVER w AS valid_to,
      | CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current,
      | CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
      |FROM events
      |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)""".stripMargin

  /** Seek-cursor pagination — the driver paging-state read (page 2+ of
    * the reference's channel-messages partition read, server.py:98, which
    * the Python driver auto-pages with fetch_size): rows STRICTLY AFTER
    * the cursor
    * (last_ts, last_id) in (ts DESC, event_id DESC) order, one page of 20.
    * The seek predicate `(ts, id) < cursor` replaces OFFSET — it prunes at
    * the scan (pushed parquet filter; at 100 TB it also prunes row groups
    * by ts min/max), where OFFSET would read and discard every earlier
    * page. The rank window is per partition key, never global. */
  def pageAfterCursor(s: SparkSession, d: String): DataFrame = {
    val curTs = ts("2024-01-15 00:00:00")
    val curId = lit(500000L)
    Tables.events(s, d)
      .filter(col("user_id") === 42 &&
        (col("ts") < curTs || (col("ts") === curTs && col("event_id") < curId)))
      .withColumn("rn", row_number().over(clusteringDesc).cast("long"))
      .filter(col("rn") <= 20)
      .select("user_id", "event_id", "ts", "event_type", "value", "rn")
  }

  private val pageAfterCursorSql =
    """SELECT user_id, event_id, ts, event_type, value, rn FROM (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |  WHERE user_id = 42
      |    AND (ts < TIMESTAMP '2024-01-15 00:00:00'
      |         OR (ts = TIMESTAMP '2024-01-15 00:00:00' AND event_id < 500000))) t
      |WHERE rn <= 20""".stripMargin

  /** Multi-page cursor CHAIN — the paging contract COMPOSED (page 2+ of
    * the reference's auto-paged partition read, server.py:98): page 1 is
    * the literal-cursor seek of [[pageAfterCursor]]; its last row (the min
    * (ts, event_id) under the DESC clustering order) becomes page 2's
    * cursor via the 1-row broadcast-scalar idiom (q11/q15), and page 2 is
    * a second seek read against it — two chained seek reads in ONE plan.
    * The oracle recomputes pages 1–2 as rows 1–40 of the post-cursor
    * stream, so hash equality PROVES chaining with the returned cursor
    * reproduces contiguous pagination: no row lost or duplicated at the
    * page boundary. Scale shape: both scans push the partition key (and
    * page 1 its literal ts seek) to parquet; in production the page-2
    * cursor arrives as a client literal and pushes identically — the
    * in-plan scalar keeps the chain self-contained here. */
  def pageChain(s: SparkSession, d: String): DataFrame = {
    val curTs = ts("2024-01-15 00:00:00")
    val curId = lit(500000L)
    val part = Tables.events(s, d).filter(col("user_id") === 42)
    val page1 = part
      .filter(col("ts") < curTs || (col("ts") === curTs && col("event_id") < curId))
      .withColumn("rn", row_number().over(clusteringDesc).cast("long"))
      .filter(col("rn") <= 20)
    // last row of page 1 under (ts DESC, id DESC) = the lexicographic min
    val cursor1 = page1.agg(min(struct(col("ts"), col("event_id"))).as("cur"))
    val page2 = part
      .crossJoin(broadcast(cursor1))
      .filter(col("ts") < col("cur.ts") ||
        (col("ts") === col("cur.ts") && col("event_id") < col("cur.event_id")))
      .withColumn("rn", row_number().over(clusteringDesc).cast("long"))
      .filter(col("rn") <= 20)
    val cols = Seq("page", "user_id", "event_id", "ts", "event_type", "value", "rn")
    page1.withColumn("page", lit(1L)).select(cols.map(col): _*)
      .unionByName(page2.withColumn("page", lit(2L)).select(cols.map(col): _*))
  }

  private val pageChainSql =
    """SELECT CAST((grn - 1) // 20 + 1 AS BIGINT) AS page,
      | user_id, event_id, ts, event_type, value,
      | CAST(grn - 20 * ((grn - 1) // 20) AS BIGINT) AS rn
      |FROM (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS grn
      |  FROM events
      |  WHERE user_id = 42
      |    AND (ts < TIMESTAMP '2024-01-15 00:00:00'
      |         OR (ts = TIMESTAMP '2024-01-15 00:00:00' AND event_id < 500000))) t
      |WHERE grn <= 40""".stripMargin

  /** Cassandra lightweight transaction — INSERT ... IF NOT EXISTS (the
    * Paxos-backed CAS write, with its `[applied]` result column; the
    * registration-safe variant of the reference's user insert,
    * server.py:263-269, which blind-upserts and silently overwrites an
    * existing username). Batch
    * twin: the read-before-write is a key-pruned multi-get (the IN filter
    * is a pushed parquet predicate — at 100 TB it prunes to the candidate
    * keys' buckets), and a candidate is `applied` iff no existing row holds
    * its key — existing rows always win, matching the serial-consistency
    * outcome. The candidate batch is a broadcast-sized literal relation;
    * nothing shuffles. */
  def casInsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keys = Seq(123L, 124L, 10000001L, 10000002L)
    val candidates = Seq(
      (123L, "cas_new_123"), (124L, "cas_new_124"),
      (10000001L, "cas_new_10000001"), (10000002L, "cas_new_10000002"))
      .toDF("user_key", "proposed_name")
    val existing = Tables.customer(s, d)
      .filter(col("c_custkey").isin(keys: _*))
      .select(col("c_custkey").as("user_key"), col("c_name").as("existing_name"))
    candidates.join(broadcast(existing), Seq("user_key"), "left")
      .select(col("user_key"), col("proposed_name"),
        col("existing_name").isNull.as("applied"),
        coalesce(col("existing_name"), col("proposed_name")).as("final_name"))
  }

  private val casInsertSql =
    """WITH cand(user_key, proposed_name) AS (VALUES
      |  (CAST(123 AS BIGINT), 'cas_new_123'),
      |  (CAST(124 AS BIGINT), 'cas_new_124'),
      |  (CAST(10000001 AS BIGINT), 'cas_new_10000001'),
      |  (CAST(10000002 AS BIGINT), 'cas_new_10000002')),
      | ex AS (SELECT c_custkey AS user_key, c_name AS existing_name
      |        FROM customer WHERE c_custkey IN (123, 124, 10000001, 10000002))
      |SELECT cand.user_key, cand.proposed_name,
      | ex.existing_name IS NULL AS applied,
      | coalesce(ex.existing_name, cand.proposed_name) AS final_name
      |FROM cand LEFT JOIN ex ON cand.user_key = ex.user_key""".stripMargin

  /** Z-ORDER layout scan — the multi-dimensional half of the layout story:
    * writeBucketed/writeTimePartitioned prune on ONE key; a part-supplier
    * workload filters lineitem on BOTH l_partkey and l_suppkey, and a
    * single-dim sort serves only one of them. The entry reads the
    * (l_partkey, l_suppkey)-Z-ordered copy (graft.sources.Layout — bit-
    * interleaved range buckets, built once per corpus like the prebuilt
    * ANN index) through a two-dim predicate rectangle: every file covers a
    * compact rectangle in key space, so parquet min/max stats prune row
    * groups on EITHER predicate (LayoutSpec measures the file-level
    * pruning vs a partkey-sorted copy). Layout moves rows, not values —
    * the oracle is the same predicate on the unsorted table. */
  def zorderScan(s: SparkSession, d: String): DataFrame =
    graft.Tables.readCached(s, graft.sources.Layout.zorderedLineitemDir(s, d))
      .filter(col("l_suppkey").between(2, 5) && col("l_partkey").between(20, 120))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
          .cast("double").as("revenue"))

  private val zorderScanSql =
    """SELECT l_returnflag, COUNT(*) AS n_lines,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_suppkey BETWEEN 2 AND 5 AND l_partkey BETWEEN 20 AND 120
      |GROUP BY l_returnflag""".stripMargin

  /** timeuuid `now()` analog (reference server.py:192-206, the message_id
    * column): DISTRIBUTED, COLLISION-SAFE id generation from a
    * (timestamp, node, sequence) triple — v1-UUID semantics without
    * coordination, the way a 1000-executor writer mints clustering keys.
    * Layout: 44 time bits (epoch ms) ‖ 10 node bits (the writer shard
    * owning the partition — here user_id mod 1024, the partitioner's
    * assignment) ‖ 10 sequence bits (per-(ms, node) counter breaking
    * same-millisecond collisions). The id formula is pure integer
    * arithmetic, so the DuckDB oracle replays GENERATION itself and the
    * hash covers the real invariants: per-partition id count == distinct
    * count (uniqueness), ids strictly increase in (ts, event_id) order
    * (the timeuuid DESC clustering contract), and the sequence never
    * overflows its bits. Deterministic stand-ins for wall-clock/MAC —
    * event ts and the owning shard — keep it replayable; swapping real
    * wall-clock + executor id back in changes no plan shape.
    *
    * Scale: one shuffle on the (ms, node) sequence window — at 100 TB
    * each writer numbers only its own millisecond batches (the window
    * partition count is writers × active-ms, never global); the audit
    * aggregate rides the user_id exchange like every wc_* entry. */
  def timeuuidGen(s: SparkSession, d: String): DataFrame = {
    val ids = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_millis(col("ts")).as("ts_ms"),
        pmod(col("user_id"), lit(1024L)).as("node"))
      .withColumn("seq", row_number().over(
        Window.partitionBy("ts_ms", "node").orderBy("user_id", "event_id"))
        .cast("long") - 1L)
      .withColumn("gen_id",
        col("ts_ms") * lit(1048576L) + col("node") * lit(1024L) + col("seq"))
    ids
      .withColumn("prev_id", lag(col("gen_id"), 1).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ids"),
        countDistinct(col("gen_id")).as("n_unique"),
        expr("bool_and(prev_id IS NULL OR gen_id > prev_id)").as("monotonic"),
        (max(col("seq")) < 1024L).as("seq_ok"),
        min(col("gen_id")).as("min_id"), max(col("gen_id")).as("max_id"))
  }

  private val timeuuidGenSql =
    """WITH e AS (SELECT user_id, event_id, ts, epoch_ms(ts) AS ts_ms,
      |                  user_id % 1024 AS node FROM events),
      | sq AS (SELECT *, ROW_NUMBER() OVER (
      |          PARTITION BY ts_ms, node ORDER BY user_id, event_id) - 1 AS seq
      |        FROM e),
      | ids AS (SELECT user_id, event_id, ts, seq,
      |           ts_ms * 1048576 + node * 1024 + seq AS gen_id FROM sq),
      | lg AS (SELECT *, lag(gen_id) OVER (
      |          PARTITION BY user_id ORDER BY ts, event_id) AS prev_id FROM ids)
      |SELECT user_id, COUNT(*) AS n_ids, COUNT(DISTINCT gen_id) AS n_unique,
      | bool_and(prev_id IS NULL OR gen_id > prev_id) AS monotonic,
      | MAX(seq) < 1024 AS seq_ok,
      | MIN(gen_id) AS min_id, MAX(gen_id) AS max_id
      |FROM lg GROUP BY user_id""".stripMargin

  // ---- consistency-level / replication semantics (server.py:137,279) ----
  // The reference selects per-statement consistency (ConsistencyLevel.ONE
  // for chat writes, QUORUM for auth reads). SURVEY §3's design note maps
  // the levels onto storage replication; these three entries implement the
  // mechanics as oracle-checked relational operators over a DETERMINISTIC
  // replica model: every write is sent to 3 replicas and independently
  // misses each with probability 1/20 (md5-derived, so both engines replay
  // the same outage pattern). "Newest" is LWW on (ts, event_id), encoded as
  // a fixed-width digit-string write-key so MAX() agrees across engines
  // without struct-ordering portability concerns.

  /** Sortable LWW write key: 13-digit epoch-ms ‖ 10-digit event_id. */
  private def writeKey: Column =
    concat(lpad(unix_millis(col("ts")).cast("string"), 13, "0"),
      lpad(col("event_id").cast("string"), 10, "0"))

  private val writeKeySql =
    "lpad(CAST(epoch_ms(ts) AS VARCHAR), 13, '0') || lpad(CAST(event_id AS VARCHAR), 10, '0')"

  /** One row per (write, replica) that ACCEPTED the write: explode ×3,
    * drop the md5-unlucky 5%. Map-side only — no shuffle until the
    * per-key aggregate, which rides the same single exchange every other
    * wc_* read uses. At 100 TB each replica is a real table and this
    * frame is their union; the aggregation shape is identical. */
  private def replicatedWrites(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("wk", writeKey)
      .withColumn("replica", explode(array(lit(0), lit(1), lit(2))))
      .filter(graft.functions.TextFunctions.md5Int(
        concat_ws(":", col("event_id"), col("replica"))) % 20 =!= 0)

  private val replicatedWritesCte =
    s"""w AS (SELECT user_id, event_type, ts, event_id, $writeKeySql AS wk
      |       FROM events),
      | rw AS (SELECT w.*, r.replica
      |        FROM w CROSS JOIN (SELECT unnest([0, 1, 2]) AS replica) r
      |        WHERE ${graft.functions.TextFunctions.md5IntSql(
               "CAST(event_id AS VARCHAR) || ':' || CAST(replica AS VARCHAR)")} % 20 <> 0)""".stripMargin

  /** CL=ONE vs CL=QUORUM read staleness (server.py:137 writes at ONE,
    * :279 reads auth at QUORUM): per key, the coordinator's answer is the
    * newest write among the replicas it consults — ONE asks replica 0,
    * QUORUM asks {0,1}, truth is all three. A key is stale under a level
    * when that answer's write differs from truth (or the consulted
    * replica never got the key). Conditional MAX per scope — one
    * aggregate, no windows; QUORUM staleness requires the SAME write
    * missing on BOTH consulted replicas, so quorum_stale ≤ one_stale is
    * the consistency-ladder invariant (WideColumnSpec asserts it). */
  def quorumRead(s: SparkSession, d: String): DataFrame =
    replicatedWrites(s, d)
      .groupBy("user_id", "event_type")
      .agg(max(when(col("replica") === 0, col("wk"))).as("one_k"),
        max(when(col("replica") <= 1, col("wk"))).as("quorum_k"),
        max(col("wk")).as("truth_k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("one_k").isNull || col("one_k") =!= col("truth_k"), 1L)
          .otherwise(0L)).as("one_stale"),
        sum(when(col("quorum_k").isNull || col("quorum_k") =!= col("truth_k"), 1L)
          .otherwise(0L)).as("quorum_stale"))

  private val quorumReadSql =
    s"""WITH $replicatedWritesCte,
      | latest AS (SELECT user_id, event_type,
      |    MAX(CASE WHEN replica = 0 THEN wk END) AS one_k,
      |    MAX(CASE WHEN replica <= 1 THEN wk END) AS quorum_k,
      |    MAX(wk) AS truth_k
      |  FROM rw GROUP BY user_id, event_type)
      |SELECT event_type, COUNT(*) AS n_keys,
      | CAST(SUM(CASE WHEN one_k IS NULL OR one_k <> truth_k THEN 1 ELSE 0 END) AS BIGINT) AS one_stale,
      | CAST(SUM(CASE WHEN quorum_k IS NULL OR quorum_k <> truth_k THEN 1 ELSE 0 END) AS BIGINT) AS quorum_stale
      |FROM latest GROUP BY event_type""".stripMargin

  /** Read repair (the mechanism behind QUORUM's consistency): the
    * coordinator compares per-replica digests of each key's newest write;
    * on mismatch it pushes the winning write to the stale replicas. Per
    * key: the three per-replica LWW heads are the digests; repairs = how
    * many replicas hold a non-winning (or no) head. resolved_id_sum sums
    * the WINNING write's event_id per type — decoded from the write-key,
    * proving the repaired view converges to the right rows without any
    * join back. */
  def readRepair(s: SparkSession, d: String): DataFrame =
    replicatedWrites(s, d)
      .groupBy("user_id", "event_type")
      .agg(max(col("wk")).as("truth_k"),
        (0 to 2).map(r =>
          max(when(col("replica") === r, col("wk"))).as(s"r${r}_k")): _*)
      .withColumn("repairs",
        (0 to 2).map(r =>
          when(col(s"r${r}_k").isNull || col(s"r${r}_k") =!= col("truth_k"), 1L)
            .otherwise(0L)).reduce(_ + _))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("repairs") > 0L, 1L).otherwise(0L)).as("mismatched_keys"),
        sum(col("repairs")).as("replica_repairs"),
        sum(substring(col("truth_k"), 14, 10).cast("long")).as("resolved_id_sum"))

  private val readRepairSql =
    s"""WITH $replicatedWritesCte,
      | heads AS (SELECT user_id, event_type,
      |    MAX(CASE WHEN replica = 0 THEN wk END) AS r0_k,
      |    MAX(CASE WHEN replica = 1 THEN wk END) AS r1_k,
      |    MAX(CASE WHEN replica = 2 THEN wk END) AS r2_k,
      |    MAX(wk) AS truth_k
      |  FROM rw GROUP BY user_id, event_type),
      | rep AS (SELECT *,
      |    (CASE WHEN r0_k IS NULL OR r0_k <> truth_k THEN 1 ELSE 0 END)
      |  + (CASE WHEN r1_k IS NULL OR r1_k <> truth_k THEN 1 ELSE 0 END)
      |  + (CASE WHEN r2_k IS NULL OR r2_k <> truth_k THEN 1 ELSE 0 END) AS repairs
      |  FROM heads)
      |SELECT event_type, COUNT(*) AS n_keys,
      | CAST(SUM(CASE WHEN repairs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS mismatched_keys,
      | CAST(SUM(repairs) AS BIGINT) AS replica_repairs,
      | CAST(SUM(CAST(substr(truth_k, 14, 10) AS BIGINT)) AS BIGINT) AS resolved_id_sum
      |FROM rep GROUP BY event_type""".stripMargin

  /** Hinted handoff (how CL=ONE writes survive a down replica): writes
    * owned by node 2 (ownership = user_id mod 4) during the outage
    * window are stored as hints on the coordinator instead of applied;
    * when the node returns, hints replay and the replica converges to the
    * full LWW view. Per node: write/hint counts, the handoff-completeness
    * invariant (live-before + hints = after-replay), and how many keys
    * would have served a STALE head during the outage (their newest write
    * was sitting in a hint) — the read-side cost of writing at ONE.
    *
    * The outage window is DERIVED from the data's own ts span — the
    * middle fifth [lo + 2(hi−lo)/5, lo + 3(hi−lo)/5) in integer epoch
    * microseconds (truncating integer division, identical in both
    * engines) — so the driver regenerating /root/testdata with a shifted
    * time range cannot zero the hint set (ADVICE r7: the former literal
    * Jan 10–12 window silently coupled the entry to one generation's
    * clock). The 1-row bounds frame is a broadcast scalar, the suite's
    * standard device. */
  def hintedHandoff(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    // the 2-value span scalar is collected once (constant-size model
    // frame — the CMS/PCA-moments class) and inlined as LITERALS: a
    // broadcast-crossJoin form kept the plan join-shaped and cost a
    // second pass over events (r8 bench: 2.2× the entry), where literal
    // bounds restore the original single-scan codegen span
    val Array(bRow) = ev
      .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
      .collect()
    // empty/fully-filtered corpus: min/max are NULL — an empty outage
    // window (0, 0) yields the correct empty result instead of an NPE in
    // the primitive unboxing below
    val (lo, hi) =
      if (bRow.isNullAt(0)) (0L, 0L) else (bRow.getLong(0), bRow.getLong(1))
    val oStart = lo + (hi - lo) * 2 / 5
    val oEnd = lo + (hi - lo) * 3 / 5
    val w = ev
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("o_end", lit(oEnd))
      .withColumn("wk", writeKey)
      .withColumn("node", pmod(col("user_id"), lit(4L)))
      .withColumn("hinted", col("node") === 2L &&
        col("us") >= lit(oStart) && col("us") < lit(oEnd))
    // replay convergence is checked by RECONSTRUCTION, not arithmetic:
    // the replica's post-replay state is the UNION of two separately
    // materialized lineages (its live writes ∪ the coordinator's hint
    // store), and its per-key LWW head must equal the head of the
    // original write stream — a hint predicate that loses or mangles a
    // write breaks the equality (the r7 review caught the previous
    // (a−b)+b==a form, which verified nothing)
    val live = w.filter(!col("hinted"))
    val hints = w.filter(col("hinted"))
    val replayed = live.unionByName(hints)
      .groupBy("node", "user_id", "event_type")
      .agg(max(col("wk")).as("replay_k"))
    val perKey = w
      .groupBy("node", "user_id", "event_type")
      .agg(count(lit(1)).as("n_writes"),
        sum(when(col("hinted"), 1L).otherwise(0L)).as("n_hints"),
        max(col("wk")).as("truth_k"),
        // read view AS OF the outage end: truth = all writes so far,
        // live = what the down replica holds before hint replay — the
        // stale window closes once replay lands, so staleness is a
        // during-outage property, not an end-of-data one
        max(when(col("us") < col("o_end"), col("wk"))).as("truth_outage_k"),
        max(when(!col("hinted") && col("us") < col("o_end"),
          col("wk"))).as("live_outage_k"))
    perKey.join(replayed, Seq("node", "user_id", "event_type"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("n_writes")).as("n_writes"),
        sum(col("n_hints")).as("n_hints"),
        sum(when(col("truth_outage_k").isNotNull &&
            (col("live_outage_k").isNull || col("live_outage_k") =!= col("truth_outage_k")), 1L)
          .otherwise(0L)).as("stale_keys_during_outage"),
        sum(when(col("replay_k") =!= col("truth_k"), 1L).otherwise(0L))
          .as("post_replay_stale_keys"),
        (sum(when(col("replay_k") =!= col("truth_k"), 1L).otherwise(0L)) === 0L)
          .as("handoff_complete"))
  }

  private val hintedHandoffSql =
    s"""WITH bounds AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
      | ob AS (SELECT lo + ((hi - lo) * 2) // 5 AS o_start,
      |               lo + ((hi - lo) * 3) // 5 AS o_end FROM bounds),
      | w AS (SELECT user_id, event_type, ts, event_id, $writeKeySql AS wk,
      |    user_id % 4 AS node, epoch_us(ts) AS us, o_end,
      |    (user_id % 4 = 2 AND epoch_us(ts) >= o_start AND epoch_us(ts) < o_end) AS hinted
      |  FROM events, ob),
      | replayed AS (SELECT node, user_id, event_type, MAX(wk) AS replay_k FROM (
      |    SELECT node, user_id, event_type, wk FROM w WHERE NOT hinted
      |    UNION ALL
      |    SELECT node, user_id, event_type, wk FROM w WHERE hinted)
      |  GROUP BY node, user_id, event_type),
      | perkey AS (SELECT node, user_id, event_type, COUNT(*) AS n_writes,
      |    SUM(CASE WHEN hinted THEN 1 ELSE 0 END) AS n_hints,
      |    MAX(wk) AS truth_k,
      |    MAX(CASE WHEN us < o_end THEN wk END) AS truth_outage_k,
      |    MAX(CASE WHEN NOT hinted AND us < o_end
      |             THEN wk END) AS live_outage_k
      |  FROM w GROUP BY node, user_id, event_type)
      |SELECT p.node, COUNT(*) AS n_keys,
      | CAST(SUM(n_writes) AS BIGINT) AS n_writes,
      | CAST(SUM(n_hints) AS BIGINT) AS n_hints,
      | CAST(SUM(CASE WHEN truth_outage_k IS NOT NULL
      |      AND (live_outage_k IS NULL OR live_outage_k <> truth_outage_k)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS stale_keys_during_outage,
      | CAST(SUM(CASE WHEN replay_k <> truth_k THEN 1 ELSE 0 END) AS BIGINT)
      |   AS post_replay_stale_keys,
      | SUM(CASE WHEN replay_k <> truth_k THEN 1 ELSE 0 END) = 0
      |   AS handoff_complete
      |FROM perkey p JOIN replayed r
      |  ON p.node = r.node AND p.user_id = r.user_id AND p.event_type = r.event_type
      |GROUP BY p.node""".stripMargin

  /** Anti-entropy repair (`nodetool repair` — the third replica-
    * convergence mechanism after read repair and hinted handoff):
    * replicas exchange MERKLE-style per-token-range digests and stream
    * only the ranges whose digests disagree. 64 token-range buckets over
    * the partition key; a range's digest is the XOR of its member
    * writes' md5 hashes — XOR is commutative/associative, so the digest
    * is reduction-order-free on both engines AND incrementally
    * maintainable (a new write XORs in; that is why real Merkle leaves
    * use it). Per replica pair: ranges compared, ranges mismatched,
    * rows that would stream (presence-XOR count). The bucketed digest
    * is one exchange over writes; the 64-row digest table is the only
    * thing replicas would actually ship at 100 TB — that asymmetry IS
    * the Merkle point, and the entry's output proves digest mismatch ⟺
    * a differing write exists in the range (no false negatives on this
    * corpus; WideColumnSpec asserts the per-range equivalence on
    * [[antiEntropyRanges]], the pre-aggregation frame the entry rolls
    * up). */
  private[graft] def antiEntropyRanges(s: SparkSession, d: String): DataFrame = {
    val md5i = graft.functions.TextFunctions.md5Int _
    val writes = Tables.events(s, d)
      .select(col("user_id"), col("event_id"))
      .withColumn("bucket", pmod(md5i(col("user_id").cast("string")), lit(64L)))
      .withColumn("h", md5i(col("event_id").cast("string")))
    val present = (0 to 2).map(r =>
      (pmod(md5i(concat_ws(":", col("event_id"), lit(r))), lit(20L)) =!= 0).as(s"p$r"))
    val flagged = writes.select(Seq(col("bucket"), col("h")) ++ present: _*)
    val perBucket = flagged.groupBy("bucket").agg(
      expr("bit_xor(CASE WHEN p0 THEN h END)").as("d0"),
      expr("bit_xor(CASE WHEN p1 THEN h END)").as("d1"),
      expr("bit_xor(CASE WHEN p2 THEN h END)").as("d2"),
      sum(when(col("p0") =!= col("p1"), 1L).otherwise(0L)).as("x01"),
      sum(when(col("p0") =!= col("p2"), 1L).otherwise(0L)).as("x02"),
      sum(when(col("p1") =!= col("p2"), 1L).otherwise(0L)).as("x12"))
    def pair(name: String, da: String, db: String, x: String): DataFrame =
      perBucket.select(lit(name).as("pair"), col("bucket"),
        (!(col(da) <=> col(db))).as("mismatch"), col(x).as("xfer"))
    pair("0-1", "d0", "d1", "x01")
      .unionByName(pair("0-2", "d0", "d2", "x02"))
      .unionByName(pair("1-2", "d1", "d2", "x12"))
  }

  def antiEntropyRepair(s: SparkSession, d: String): DataFrame =
    antiEntropyRanges(s, d)
      .groupBy("pair")
      .agg(count(lit(1)).as("n_ranges"),
        sum(when(col("mismatch"), 1L).otherwise(0L)).as("mismatched_ranges"),
        sum(col("xfer")).as("rows_streamed"))

  private val antiEntropyRepairSql = {
    def md5s(x: String) = graft.functions.TextFunctions.md5IntSql(x)
    s"""WITH w AS (SELECT
      |    ${md5s("CAST(user_id AS VARCHAR)")} % 64 AS bucket,
      |    ${md5s("CAST(event_id AS VARCHAR)")} AS h,
      |    ${md5s("CAST(event_id AS VARCHAR) || ':0'")} % 20 <> 0 AS p0,
      |    ${md5s("CAST(event_id AS VARCHAR) || ':1'")} % 20 <> 0 AS p1,
      |    ${md5s("CAST(event_id AS VARCHAR) || ':2'")} % 20 <> 0 AS p2
      |  FROM events),
      | pb AS (SELECT bucket,
      |    bit_xor(CASE WHEN p0 THEN h END) AS d0,
      |    bit_xor(CASE WHEN p1 THEN h END) AS d1,
      |    bit_xor(CASE WHEN p2 THEN h END) AS d2,
      |    SUM(CASE WHEN p0 <> p1 THEN 1 ELSE 0 END) AS x01,
      |    SUM(CASE WHEN p0 <> p2 THEN 1 ELSE 0 END) AS x02,
      |    SUM(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END) AS x12
      |  FROM w GROUP BY bucket),
      | pairs AS (
      |  SELECT '0-1' AS pair, d0 IS DISTINCT FROM d1 AS mismatch, x01 AS xfer FROM pb
      |  UNION ALL
      |  SELECT '0-2', d0 IS DISTINCT FROM d2, x02 FROM pb
      |  UNION ALL
      |  SELECT '1-2', d1 IS DISTINCT FROM d2, x12 FROM pb)
      |SELECT pair, COUNT(*) AS n_ranges,
      | CAST(SUM(CASE WHEN mismatch THEN 1 ELSE 0 END) AS BIGINT) AS mismatched_ranges,
      | CAST(SUM(xfer) AS BIGINT) AS rows_streamed
      |FROM pairs GROUP BY pair""".stripMargin
  }

  /** Ring expansion (bootstrap of a 5th node onto a 4-node vnode ring) —
    * the topology-change half of the token story (wc_token_range_scan is
    * the steady-state half). Ownership is RENDEZVOUS (highest-random-
    * weight) hashing: vnode v belongs to the node maximizing
    * h(v, node) — deterministic, coordination-free, and minimally
    * disruptive BY CONSTRUCTION: adding node 4 can only steal the vnodes
    * where h(v, 4) beats all incumbents, so every moved row moves TO the
    * new node and old→old reshuffling is impossible (WideColumnSpec
    * asserts exactly that; a mod-N ring would reshuffle ~4/5 of all
    * data, which is why real rings don't use mod). Ring metadata is
    * computed at VNODE grain (64 rows) and broadcast back — at 100 TB
    * the ring map is still 64 rows; the data-side cost is one map-side
    * join + one (old, new) aggregate. */
  def vnodeRebalance(s: SparkSession, d: String): DataFrame = {
    val md5i = graft.functions.TextFunctions.md5Int _
    def owner(nNodes: Int): Column = {
      val hs = (0 until nNodes).map(r => md5i(concat_ws("#", col("vnode"), lit(r))))
      // argmax with lowest-node tie-break: node i wins if its hash is
      // strictly above every earlier node's and at-or-above every later's
      (0 until nNodes).map { i =>
        val beats = hs.zipWithIndex.collect {
          case (h, j) if j < i => hs(i) > h
          case (h, j) if j > i => hs(i) >= h
        }
        when(beats.reduce(_ && _), lit(i.toLong))
        // right-fold: each otherwise() is applied to a FRESH when()
        // (left-fold would re-apply otherwise on an already-closed CASE)
      }.reduceRight((a, b) => a.otherwise(b))
    }
    val keyed = Tables.events(s, d)
      .select(col("user_id"))
      .withColumn("vnode", pmod(md5i(col("user_id").cast("string")), lit(64L)))
    // the vnode universe is known a priori (0..63) — a literal 64-row
    // frame, NOT distinct() over events, which would re-scan and re-hash
    // the whole table just to recover it (r7 review catch); unpopulated
    // vnodes drop out of the inner join, so the output is identical
    val ring = s.range(64).select(col("id").as("vnode"))
      .withColumn("old_owner", owner(4))
      .withColumn("new_owner", owner(5))
    keyed.join(broadcast(ring), "vnode")
      .groupBy("old_owner", "new_owner")
      .agg(countDistinct(col("vnode")).as("n_vnodes"),
        count(lit(1)).as("n_rows"))
  }

  private val vnodeRebalanceSql = {
    def md5s(x: String) = graft.functions.TextFunctions.md5IntSql(x)
    // h0..h4 computed ONCE in a projection over the 64-row ring, then the
    // argmax CASEs reference the named columns — inlining the md5
    // expansion into every pairwise comparison bred ~64 textual copies of
    // the hash expression (r7 review catch; same structure as the Spark
    // side's hs vector)
    def ownerSql(nNodes: Int): String =
      "CASE " + (0 until nNodes).map { i =>
        val beats = (0 until nNodes).collect {
          case j if j < i => s"h$i > h$j"
          case j if j > i => s"h$i >= h$j"
        }
        s"WHEN ${beats.mkString(" AND ")} THEN CAST($i AS BIGINT)"
      }.mkString(" ") + " END"
    val hCols = (0 until 5)
      .map(i => s"${md5s(s"CAST(vnode AS VARCHAR) || '#' || '$i'")} AS h$i")
      .mkString(",\n |    ")
    s"""WITH keyed AS (SELECT user_id,
      |    ${md5s("CAST(user_id AS VARCHAR)")} % 64 AS vnode FROM events),
      | vn AS (SELECT unnest(generate_series(0, 63)) AS vnode),
      | hashed AS (SELECT vnode,
      |    $hCols
      |  FROM vn),
      | ring AS (SELECT vnode,
      |    ${ownerSql(4)} AS old_owner,
      |    ${ownerSql(5)} AS new_owner
      |  FROM hashed)
      |SELECT old_owner, new_owner, COUNT(DISTINCT vnode) AS n_vnodes,
      | COUNT(*) AS n_rows
      |FROM keyed JOIN ring USING (vnode)
      |GROUP BY old_owner, new_owner""".stripMargin
  }

  // ---- MERGE-ON-READ deletion vectors (r16, VERDICT r15 #1) ---------------
  /** Small DML served through DELETION VECTORS instead of copy-on-write:
    * a point DELETE and a key upsert each publish a tiny pk sidecar
    * bound to the affected files (manifest `^` lines) — NO existing data
    * file is read or rewritten (the builder REQUIRES file identity) —
    * and readers suppress the tombstoned keys' rows at merge time,
    * exactly Cassandra's tombstone-merged-at-read semantic; compaction
    * applies vectors physically. The oracle replays both ops
    * relationally over the raw orders, so the entry proves the
    * merge-on-read read path is row-exact against a rewrite-free
    * specification. TokenRangeDvSpec carries the physical claims
    * (no-data-file delete, conflict-on-race, vacuum liveness). */
  private def mergeOnReadDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_mor", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.format(fmt).option("pk", "o_orderkey")
        .option("schema",
          "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .mode("overwrite").save(dir)
      val preDelete =
        graft.sources.connector.TokenRangeOps.liveFiles(dir).toSet
      // point DELETE: 12 keys (disjoint from the upsert set by
      // construction — 101·103 cross-multiples excluded on both sides)
      val delKeys = Tables.orders(s, d)
        .filter(col("o_orderkey") % 101 === 0 && col("o_orderkey") % 103 =!= 0)
        .orderBy(asc("o_orderkey")).limit(12)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      graft.sources.connector.TokenRangeOps
        .deleteKeys(s, dir, "o_orderkey", delKeys)
      // key upsert: 8 keys take a new status and a bumped price — the
      // incoming rows APPEND, a vector tombstones the old generations
      val upFrame = Tables.orders(s, d)
        .filter(col("o_orderkey") % 103 === 0 && col("o_orderkey") % 101 =!= 0)
        .orderBy(asc("o_orderkey")).limit(8)
        .select(col("o_orderkey"), lit("M").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
      graft.sources.connector.TokenRangeOps
        .upsert(s, dir, "o_orderkey", upFrame)
      // the merge-on-read CONTRACT, enforced at build time: every
      // pre-existing data file survives by identity (the upsert only
      // ADDED files; the delete added none)
      val after =
        graft.sources.connector.TokenRangeOps.liveFiles(dir).toSet
      require(preDelete.subsetOf(after),
        "merge-on-read DML must not rewrite or retire any data file")
      dir
    }

  def mergeOnRead(s: SparkSession, d: String): DataFrame = {
    val dir = mergeOnReadDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "o_orderkey").load(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        Cols.sumExact(col("o_totalprice"), 2).as("sum_price"))
  }

  private val mergeOnReadSql =
    """WITH del AS (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderkey % 101 = 0 AND o_orderkey % 103 <> 0
      |  ORDER BY o_orderkey LIMIT 12),
      | up AS (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderkey % 103 = 0 AND o_orderkey % 101 <> 0
      |  ORDER BY o_orderkey LIMIT 8),
      | t AS (
      |  SELECT
      |    CASE WHEN o_orderkey IN (SELECT o_orderkey FROM up)
      |      THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
      |    CASE WHEN o_orderkey IN (SELECT o_orderkey FROM up)
      |      THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
      |  FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del))
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM t GROUP BY o_orderstatus""".stripMargin

  // ---- per-cell WRITETIME + cell tombstone (r16, VERDICT r15 #6) ----------
  /** CQL's actual cell lifecycle under out-of-order arrivals: every cell
    * carries a `_wt_<col>` writetime shadow (the WRITETIME(c) analog,
    * queryable), a bound cell WINS only with a strictly newer stamp, and
    * a bound NULL is a cell TOMBSTONE stamped at its writetime — so a
    * tombstone at t=300 shadows a value write that arrives LATER but
    * carries t=200 (the anti-entropy replay / hinted-handoff shape). The
    * script: base insert, then SET c_name=NULL at wt=300 (tombstone) on
    * key set K, then an OUT-OF-ORDER write at wt=200 binding c_name and
    * c_acctbal on the same keys — c_name must stay tombstoned (200 < 300
    * loses per cell) while c_acctbal takes the 200 write (its cell was
    * never stamped). The oracle replays the per-cell LWW relationally. */
  private def cellTombstoneDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_cellwt", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal")
        .write.format(fmt).option("pk", "c_custkey")
        .option("schema", "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE")
        .mode("overwrite").save(dir)
      val keys = Tables.customer(s, d)
        .filter(col("c_custkey") % 53 === 0)
        .orderBy(asc("c_custkey")).limit(10)
        .select("c_custkey")
      // wt=300: cell tombstone on c_name (SET c_name = NULL USING TIMESTAMP 300)
      graft.sources.connector.TokenRangeOps.upsertCells(s, dir, "c_custkey",
        keys.withColumn("c_name", lit(null).cast("string")),
        writetimeMicros = Some(300L))
      // wt=200, OUT OF ORDER: binds both cells — c_name loses to the
      // newer tombstone, c_acctbal (never stamped) takes the write
      graft.sources.connector.TokenRangeOps.upsertCells(s, dir, "c_custkey",
        keys.withColumn("c_name", lit("late").cast("string"))
          .withColumn("c_acctbal", lit(-1.0)),
        writetimeMicros = Some(200L))
      dir
    }

  def cellTombstone(s: SparkSession, d: String): DataFrame = {
    val dir = cellTombstoneDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "c_custkey").load(dir)
      .filter(col("c_custkey") % 53 === 0)
      .orderBy(asc("c_custkey")).limit(40)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("_wt_c_name").as("wt_name"), col("_wt_c_acctbal").as("wt_bal"))
  }

  private val cellTombstoneSql =
    """WITH k AS (
      |  SELECT c_custkey FROM customer WHERE c_custkey % 53 = 0
      |  ORDER BY c_custkey LIMIT 10)
      |SELECT c_custkey,
      |  CASE WHEN c_custkey IN (SELECT c_custkey FROM k)
      |    THEN NULL ELSE c_name END AS c_name,
      |  CASE WHEN c_custkey IN (SELECT c_custkey FROM k)
      |    THEN -1.0 ELSE c_acctbal END AS c_acctbal,
      |  CASE WHEN c_custkey IN (SELECT c_custkey FROM k)
      |    THEN CAST(300 AS BIGINT) ELSE NULL END AS wt_name,
      |  CASE WHEN c_custkey IN (SELECT c_custkey FROM k)
      |    THEN CAST(200 AS BIGINT) ELSE NULL END AS wt_bal
      |FROM customer WHERE c_custkey % 53 = 0
      |ORDER BY c_custkey LIMIT 40""".stripMargin

  // ---- SQL merge-on-read DML (r16: SupportsDelta) --------------------------
  /** The SQL statements themselves served MERGE-ON-READ: every table
    * routes UPDATE / predicate-DELETE / MERGE through Spark's
    * `SupportsDelta` protocol — matched rows arrive row-classified with
    * their `(_file, _pos)` position identity, removals publish as a
    * deletion vector bound to exactly the files that held them, new
    * images append; a statement within the `dml.fallback_rows` bound
    * rewrites NOTHING (the builder REQUIRES file identity). A 1-row SQL
    * UPDATE is one tiny appended file plus one tiny vector — Cassandra's
    * write path reached from SQL. The oracle replays the statements
    * relationally over raw orders. */
  private def sqlMorDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_sqlmor", d) { dir =>
      // per-dir catalog name + per-build view name (review r16: a fixed
      // catalog name pins its first warehouse for the JVM's lifetime —
      // the sqlCatalogOf/sqlDdlDir hazard, recorded at its definition)
      val cat = sqlCatalogOf(s, dir)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ks")
      s.sql(s"""CREATE TABLE $cat.ks.orders
        (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
        TBLPROPERTIES('pk'='o_orderkey')""")
      val src = s"src_$cat"
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .createOrReplaceTempView(src)
      s.sql(s"INSERT INTO $cat.ks.orders SELECT * FROM $src")
      val before = graft.sources.connector.TokenRangeOps
        .liveFiles(new java.io.File(new java.io.File(dir, "ks"), "orders")
          .getAbsolutePath).toSet
      // merge-on-read UPDATE then DELETE, both small, both by predicate
      s.sql(s"UPDATE $cat.ks.orders SET o_orderstatus = 'Z', " +
        "o_totalprice = o_totalprice + 500.0 " +
        "WHERE o_orderkey % 211 = 0 AND o_orderkey % 2 = 0")
      s.sql(s"DELETE FROM $cat.ks.orders " +
        "WHERE o_orderkey % 211 = 0 AND o_orderkey % 2 = 1")
      val path = new java.io.File(new java.io.File(dir, "ks"), "orders")
        .getAbsolutePath
      val after = graft.sources.connector.TokenRangeOps.liveFiles(path).toSet
      require(before.subsetOf(after),
        "SQL merge-on-read DML must not rewrite or retire any data file")
      require(graft.sources.connector.TokenRangeOps
        .deletionVectors(path).nonEmpty, "the statements must publish vectors")
      dir
    }

  def sqlMor(s: SparkSession, d: String): DataFrame = {
    val dir = sqlMorDir(s, d)
    val cat = sqlCatalogOf(s, dir) // re-register on the read path too
    s.sql(s"SELECT o_orderstatus, COUNT(*) AS n_orders, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
      s"FROM $cat.ks.orders GROUP BY o_orderstatus")
  }

  private val sqlMorSql =
    """WITH t AS (
      |  SELECT
      |    CASE WHEN o_orderkey % 211 = 0 AND o_orderkey % 2 = 0
      |      THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
      |    CASE WHEN o_orderkey % 211 = 0 AND o_orderkey % 2 = 0
      |      THEN o_totalprice + 500.0 ELSE o_totalprice END AS o_totalprice
      |  FROM orders
      |  WHERE NOT (o_orderkey % 211 = 0 AND o_orderkey % 2 = 1))
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM t GROUP BY o_orderstatus""".stripMargin

  /** SQL merge-on-read DML on a CLUSTERED table (r17, VERDICT r16 #1):
    * the reference's own `messages` table is clustered — `PRIMARY KEY
    * (channel_id, message_id) WITH CLUSTERING ORDER BY`
    * (server.py:176-183) — and its hottest DML is delete/edit ONE
    * message of a busy channel. r16's pk-grained vector refused
    * clustered tables (it would have tombstoned every ck sibling); the
    * POSITION vector (`_file` + `_pos`, the Delta/Iceberg DV shape)
    * tombstones exactly the matched stored rows, so the delta path now
    * serves the most reference-shaped workload: a one-row SQL UPDATE or
    * DELETE on (pk, ck) appends one tiny image + one tiny vector and
    * rewrites NOTHING (require-asserted below), ck siblings intact —
    * proven hash-equal to the relational replay by the oracle. */
  private def sqlMorClusteredDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_sqlmorck", d) { dir =>
      val cat = sqlCatalogOf(s, dir)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ks")
      // orders as messages: customer = channel, order = message in it
      s.sql(s"""CREATE TABLE $cat.ks.corders
        (o_custkey BIGINT, o_orderkey BIGINT, o_orderstatus STRING,
         o_totalprice DOUBLE)
        TBLPROPERTIES('pk'='o_custkey', 'ck'='o_orderkey')""")
      val src = s"srcck_$cat"
      Tables.orders(s, d)
        .select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice")
        .createOrReplaceTempView(src)
      s.sql(s"INSERT INTO $cat.ks.corders SELECT * FROM $src")
      val path = new java.io.File(new java.io.File(dir, "ks"), "corders")
        .getAbsolutePath
      val before = graft.sources.connector.TokenRangeOps.liveFiles(path).toSet
      // edit-one-message: patch a scattered sliver of (channel, message)
      // rows; delete-one-message: another disjoint sliver — both by full
      // primary-key-shaped predicates, both merge-on-read
      s.sql(s"UPDATE $cat.ks.corders SET o_orderstatus = 'X', " +
        "o_totalprice = o_totalprice * 2.0 WHERE o_orderkey % 977 = 0")
      s.sql(s"DELETE FROM $cat.ks.corders WHERE o_orderkey % 997 = 0")
      val after = graft.sources.connector.TokenRangeOps.liveFiles(path).toSet
      require(before.subsetOf(after),
        "clustered SQL merge-on-read DML must not rewrite or retire any " +
          "data file (position vectors suppress, images append)")
      require(graft.sources.connector.TokenRangeOps
        .deletionVectors(path).nonEmpty, "the statements must publish vectors")
      dir
    }

  def sqlMorClustered(s: SparkSession, d: String): DataFrame = {
    val dir = sqlMorClusteredDir(s, d)
    val cat = sqlCatalogOf(s, dir)
    s.sql(s"SELECT o_orderstatus, COUNT(*) AS n_orders, " +
      "SUM(o_custkey) AS sum_cust, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
      s"FROM $cat.ks.corders GROUP BY o_orderstatus")
  }

  private val sqlMorClusteredSql =
    """WITH t AS (
      |  SELECT o_custkey,
      |    CASE WHEN o_orderkey % 977 = 0 THEN 'X'
      |         ELSE o_orderstatus END AS o_orderstatus,
      |    CASE WHEN o_orderkey % 977 = 0 THEN o_totalprice * 2.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders
      |  WHERE o_orderkey % 997 != 0)
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM t GROUP BY o_orderstatus""".stripMargin

  override def entries: Seq[(String, QueryFn, Option[String])] = Seq(
    ("wc_merge_on_read", mergeOnRead _, Some(mergeOnReadSql)),
    ("wc_cell_tombstone", cellTombstone _, Some(cellTombstoneSql)),
    ("wc_sql_mor", sqlMor _, Some(sqlMorSql)),
    ("wc_sql_mor_clustered", sqlMorClustered _, Some(sqlMorClusteredSql)),
    ("wc_vnode_rebalance", vnodeRebalance _, Some(vnodeRebalanceSql)),
    ("wc_anti_entropy_repair", antiEntropyRepair _, Some(antiEntropyRepairSql)),
    ("wc_quorum_read", quorumRead _, Some(quorumReadSql)),
    ("wc_read_repair", readRepair _, Some(readRepairSql)),
    ("wc_hinted_handoff", hintedHandoff _, Some(hintedHandoffSql)),
    ("wc_timeuuid_gen", timeuuidGen _, Some(timeuuidGenSql)),
    ("wc_zorder_scan", zorderScan _, Some(zorderScanSql)),
    ("wc_cas_insert", casInsert _, Some(casInsertSql)),
    ("wc_page_after_cursor", pageAfterCursor _, Some(pageAfterCursorSql)),
    ("wc_page_chain", pageChain _, Some(pageChainSql)),
    ("wc_scd2_merge", scd2Merge _, Some(scd2MergeSql)),
    ("wc_compaction_incremental", compactionIncremental _, Some(compactionIncrementalSql)),
    ("wc_partition_stats", partitionStats _, Some(partitionStatsSql)),
    ("wc_materialized_view", materializedView _, Some(materializedViewSql)),
    ("wc_counter_column", counterColumn _, Some(counterColumnSql)),
    ("wc_delete_tombstone", deleteTombstone _, Some(deleteTombstoneSql)),
    ("wc_collection_map", collectionMap _, Some(collectionMapSql)),
    ("wc_partition_lookup", partitionLookup _, Some(partitionLookupSql)),
    ("wc_multi_partition_lookup", multiPartitionLookup _, Some(multiPartitionLookupSql)),
    ("wc_point_lookup", pointLookup _, Some(pointLookupSql)),
    ("wc_projection_scan", projectionScan _, Some(projectionScanSql)),
    ("wc_upsert_lww", upsertLww _, Some(upsertLwwSql)),
    ("wc_batch_insert", batchInsert _, Some(batchInsertSql)),
    ("wc_token_range_scan", tokenRangeScan _, Some(tokenRangeScanSql)),
    ("wc_connector_multiget", connectorMultiget _, Some(connectorMultigetSql)),
    ("wc_connector_user_lookup", connectorUserLookup _, Some(connectorUserLookupSql)),
    ("wc_composite_key_lookup", compositeKeyLookup _, Some(compositeKeyLookupSql)),
    ("wc_composite_clustered_slice", compositeClusteredSlice _,
      Some(compositeClusteredSliceSql)),
    ("wc_alter_add_column", alterAddColumn _, Some(alterAddColumnSql)),
    ("wc_connector_snapshot_read", connectorSnapshotRead _, Some(connectorSnapshotReadSql)),
    ("wc_connector_delete", connectorDelete _, Some(connectorDeleteSql)),
    ("wc_connector_compact", connectorCompact _, Some(connectorCompactSql)),
    ("wc_connector_ttl", connectorTtl _, Some(connectorTtlSql)),
    ("wc_connector_upsert", connectorUpsert _, Some(connectorUpsertSql)),
    ("wc_delete_ck_range", deleteCkRangeEntry _, Some(deleteCkRangeSql)),
    ("wc_range_tombstone_mor", rangeTombstoneMor _, Some(rangeTombstoneMorSql)),
    ("wc_cell_lww", cellLww _, Some(cellLwwSql)),
    ("wc_sql_ddl", sqlDdl _, Some(sqlDdlSql)),
    ("wc_sql_update_merge", sqlUpdateMerge _, Some(sqlUpdateMergeSql)),
    ("wc_ttl_expiry", ttlExpiry _, Some(ttlExpirySql)),
    ("wc_clustering_slice", clusteringSlice _, Some(clusteringSliceSql)),
    ("wc_secondary_index", secondaryIndex _, Some(secondaryIndexSql)),
    ("wc_sai_index", saiIndex _, Some(saiIndexSql)),
    ("wc_insert_upsert", insertUpsert _, Some(insertUpsertSql)),
    ("wc_insert_upsert_clustered", insertUpsertClustered _,
      Some(insertUpsertClusteredSql)),
    ("wc_ttl_mor", ttlMor _, Some(ttlMorSql)),
    ("wc_multi_ck_slice", multiCkSlice _, Some(multiCkSliceSql)))
}
