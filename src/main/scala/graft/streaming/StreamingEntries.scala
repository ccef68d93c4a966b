package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.QueryModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** SURVEY.md §2.C/§2.E — the streaming twins as DRIVER-VISIBLE entries.
  *
  * Each entry drains a Structured Streaming job over the sf parquet with
  * `Trigger.AvailableNow` (the backfill/catch-up trigger: process everything
  * available as a bounded sequence of micro-batches, then stop) and returns
  * the drained sink as a batch DataFrame. Because the streaming operators
  * share state partitioning and exact-decimal aggregation with their batch
  * twins, the drained result is hash-identical to the batch SQL — so these
  * entries carry REAL DuckDB oracles, proving the batch/streaming
  * equivalence the r1 ScalaTests only asserted locally (VERDICT r1
  * §next-round #4).
  *
  * Sink note: a memory sink is correct here because every drained result is
  * bounded (windowed aggregates; one fingerprint row per distinct doc); a
  * production deployment would point the same writeStream at a parquet/kafka
  * sink with a real checkpoint dir and identical semantics.
  */
object StreamingEntries extends QueryModule {

  private val sinkId = new AtomicInteger(0)

  /** State-store partition count for the drained streaming entries.
    * Stateful operators pin their state partitioning to the
    * shuffle-partition conf of the first checkpointed micro-batch — so this
    * is a per-stream SIZING decision (keys × state volume), not the batch
    * shuffle default. Per-partition per-batch commit overhead (delta file +
    * fsync, ×4 stores for a stream-stream join) dominates bounded drains:
    * measured at sf0.1, the stream-stream join drops 6.5 s → 2.7 s going
    * 32 → 8 partitions. A 100 TB ingest raises this (more, smaller stores
    * for parallelism); the semantics are partition-count invariant. */
  private val streamStatePartitions = "8"

  /** Scratch root for streaming checkpoints, staged sources and file-sink
    * drains (r19 floor attack, guide §1/§6: the per-micro-batch constant is
    * dominated by checkpoint-dir I/O — offset/commit logs plus one state
    * delta per store per partition per batch, ~0.27 s of the measured
    * ~0.85 s floor on ext4). Checkpoint scratch for a bounded AvailableNow
    * drain is transient by construction, so it belongs on the fastest
    * local filesystem: tmpfs when available. Parameterised — a production
    * deployment points this at its durable checkpoint store via
    * SPARK_GRAFT_STREAM_SCRATCH (recovery needs the checkpoint to outlive
    * the process; a drained backfill does not). */
  private val scratchRoot: String = sys.env.get("SPARK_GRAFT_STREAM_SCRATCH")
    .orElse(Some("/dev/shm").filter(p => new java.io.File(p).canWrite))
    .getOrElse(sys.props("java.io.tmpdir"))

  private def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(scratchRoot), prefix)

  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import java.nio.file._
    import java.util.Comparator
    if (Files.exists(dir))
      Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
  }

  /** Run `f` (a synchronous stream start+drain) with the streaming state
    * partition sizing and the bounded-drain micro-batch settings, restoring
    * the session's batch defaults after. Safe because every drain awaits
    * termination before returning and entries run sequentially
    * (Verify/Bench/test all serialize queries).
    *
    * Bounded-drain settings (r19, guide §1 — measured on the harness-floor
    * probe at sf0.1):
    *   - `noDataMicroBatches.enabled=false` unless `noDataBatch`: the
    *     trailing no-data batch exists to advance the watermark and flush/
    *     evict state. Every drained entry here emits its rows in DATA
    *     batches (complete-mode aggregates rewrite full state per batch;
    *     append/update custom-state ops use NoTimeout; inner interval joins
    *     emit matches on arrival; dropDuplicates* emits first-seens on
    *     arrival) — EXCEPT the left-outer stream-stream join, whose
    *     NULL-extended rows are produced by watermark eviction itself, so
    *     st_attribution_unmatched passes noDataBatch=true. ~0.07 s/drain,
    *     and ~0.9 s on the 4-store stream-stream join (the extra batch
    *     re-commits every state store).
    *   - state-store maintenanceInterval 1 h: background snapshot uploads
    *     are lifecycle hygiene for LONG-RUNNING streams; inside a bounded
    *     drain they only add I/O racing the drain itself (~0.06 s). The
    *     session default is restored after, so a genuinely long-running
    *     deployment keeps normal maintenance. */
  private def withStreamConf[T](s: SparkSession, noDataBatch: Boolean = false)(f: => T): T = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    val prevMaint = s.conf.get("spark.sql.streaming.stateStore.maintenanceInterval")
    s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noDataBatch.toString)
    s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
    try f finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", prevMaint)
    }
  }

  /** Drain `df` to completion into a uniquely-named memory sink via
    * AvailableNow and return the sink contents. The temp view is dropped
    * immediately (the returned frame holds the already-resolved sink plan,
    * so its rows stay reachable exactly as long as the caller holds the
    * frame — repeated drains don't accumulate named driver-memory tables).
    * The checkpoint lives in a unique scratch dir (NEVER a shared
    * `spark.sql.streaming.checkpointLocation`: a fixed location would make
    * the next drain RESUME this one's offsets) and is deleted once the
    * drain has terminated — the memory sink holds the rows. */
  private def drain(df: DataFrame, mode: String, noDataBatch: Boolean = false): DataFrame =
    withStreamConf(df.sparkSession, noDataBatch) {
      val ckpt = scratchDir("graft_stream_ckpt")
      val name = s"graft_stream_sink_${sinkId.incrementAndGet()}"
      val q = df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      deleteRecursively(ckpt)
      val out = df.sparkSession.table(name)
      df.sparkSession.catalog.dropTempView(name)
      out
    }

  // The file-stream source wants a DIRECTORY to list; the sf tables are
  // single parquet files, so stage each into a temp dir once per (table, sf)
  // and reuse it across calls. (A real deployment points readStream at the
  // ingest directory and skips this.)
  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageDir(d: String, table: String): String =
    stagedDirs.computeIfAbsent(s"$d/$table", { _ =>
      val dir = scratchDir(s"graft_stream_$table")
      // staged copies are JVM-lifetime scratch: clean up on exit. Register
      // the DIR first — deleteOnExit runs in reverse registration order, so
      // the file inside is deleted before the (then-empty) directory.
      dir.toFile.deleteOnExit()
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/$table.parquet"),
        dir.resolve(s"$table.parquet")).toFile.deleteOnExit()
      dir.toString
    })

  /** Harness-floor probe for the bench record (VERDICT r8 ask #8): one
    * minimal stateful drain — a global count over the 5-row region table
    * through the SAME AvailableNow / memory-sink / state-partition
    * machinery every st_* entry pays. Its steady-state wall time is the
    * per-entry harness floor (micro-batch setup + state-store commits +
    * sink drain), so cross-round diffs can separate a real streaming
    * regression from harness/environment drift: an st_* entry is only
    * code-regressed by the amount it moved BEYOND the floor's move. */
  private[graft] def harnessFloor(s: SparkSession, d: String): DataFrame = {
    val sch = graft.Tables.schemaOf(s, s"$d/region.parquet")
    val src = s.readStream.schema(sch).parquet(stageDir(d, "region"))
    drain(src.groupBy().count(), "complete")
  }

  /** Streaming view of the events table (same nanos-or-micros `ts`
    * normalization as Tables.events — branch on the type the reader
    * produced, since the testdata has shipped both generations). */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = graft.Tables.schemaOf(s, s"$d/events.parquet")
    val raw = s.readStream.schema(sch).parquet(stageDir(d, "events"))
    sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  private def documentsStream(s: SparkSession, d: String): DataFrame = {
    val sch = graft.Tables.schemaOf(s, s"$d/documents.parquet")
    s.readStream.schema(sch).parquet(stageDir(d, "documents"))
      // synthetic arrival time for the watermark: any deterministic
      // event-time works for a bounded backfill — offset from epoch 0,
      // where the initial watermark sits and would drop doc_id 0 as late
      .withColumn("ingest_ts", timestamp_seconds(col("doc_id") + 1000000000L))
  }

  /** Streaming tumbling-window counts drained to batch — twin of
    * ev_tumbling_window. The oracle SQL is referenced from the batch twin
    * VERBATIM (same column names after its window_start aliasing), so the
    * equivalence proof cannot drift between two hand-kept copies. */
  def stTumbling(s: SparkSession, d: String): DataFrame =
    drain(EventStreams.tumblingCounts(eventsStream(s, d)), "complete")

  private val stTumblingSql = graft.operators.Events.tumblingWindowSql

  /** Streaming sliding windows drained to batch — twin of
    * ev_sliding_window, oracle referenced from the batch twin verbatim. */
  def stSliding(s: SparkSession, d: String): DataFrame =
    drain(EventStreams.slidingCounts(eventsStream(s, d)), "complete")

  private val stSlidingSql = graft.operators.Events.slidingWindowSql

  /** Streaming session windows (30 min gap) drained to batch. The oracle
    * mirrors session_window semantics exactly: a gap of >= 30 min opens a
    * new session (windows are half-open [start, last+gap)), and session_end
    * is last event + gap. */
  def stSessions(s: SparkSession, d: String): DataFrame =
    drain(EventStreams.sessionWindows(eventsStream(s, d)), "complete")

  private val stSessionsSql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      | sess AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start,
      | MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      | COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid""".stripMargin

  /** The custom-state (mapGroupsWithState) funnel drained to batch: frontier
    * states are emitted per user per micro-batch in update mode and grow
    * monotonically, so the per-user max over the drained sink is the final
    * frontier; counting non-zero stages reproduces the batch funnel counts
    * exactly — the oracle is ev_funnel's SQL verbatim. Proves the arbitrary-
    * stateful-operator path (not just built-in window aggs) cross-engine. */
  def stFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = eventsStream(s, d).select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventRow]
    drain(EventStreams.funnelStages(ds).toDF(), "update")
      .groupBy("user_id")
      .agg(max("signup_ts").as("st"), max("view_ts").as("vt"),
        max("purchase_ts").as("pt"))
      .agg(sum(when(col("st") > 0, 1L).otherwise(0L)).as("n_signup"),
        sum(when(col("vt") > 0, 1L).otherwise(0L)).as("n_signup_view"),
        sum(when(col("pt") > 0, 1L).otherwise(0L)).as("n_signup_view_purchase"))
  }

  private val stFunnelSql =
    """WITH s AS (SELECT user_id, MIN(ts) AS st FROM events
      |           WHERE event_type = 'signup' GROUP BY user_id),
      | v AS (SELECT e.user_id, MIN(e.ts) AS vt FROM events e JOIN s ON e.user_id = s.user_id
      |       WHERE e.event_type = 'view' AND e.ts > s.st GROUP BY e.user_id),
      | p AS (SELECT e.user_id, MIN(e.ts) AS pt FROM events e JOIN v ON e.user_id = v.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > v.vt GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM s) AS n_signup,
      |       (SELECT COUNT(*) FROM v) AS n_signup_view,
      |       (SELECT COUNT(*) FROM p) AS n_signup_view_purchase""".stripMargin

  /** Drain `df` through a FILES sink (parquet + checkpoint in a temp dir)
    * and read the result back as a batch frame. Unlike the memory sink, the
    * drained rows flow executor→disk and never materialize in driver
    * memory — the right drain for O(corpus)-sized results like a dedup
    * keep-list (VERDICT r2 #9). At scale the same writeStream points at the
    * durable output location; reading it back is the downstream job. */
  private def drainToFiles(df: DataFrame, noDataBatch: Boolean = false): DataFrame = {
    // The drained OUTPUT is corpus-sized data (a MinHash signature table,
    // a dedup keep-list), unlike the transient checkpoint — on a large
    // corpus it would fill RAM-backed tmpfs mid-run (ADVICE r19 #3), so
    // its root is parameterised separately: SPARK_GRAFT_STREAM_DATA
    // points it at disk/shared storage for real corpora. The LOCAL
    // default stays the scratch root because the sf-scale outputs are
    // KBs and the streaming parquet sink's commit path on ext4 doubles
    // these entries (measured r20: the 6 drainToFiles entries 11.6 s on
    // tmpfs vs 23.5 s on the disk tmpdir) — a deployment-size decision,
    // stated here instead of silently inherited.
    val dataRoot = sys.env.getOrElse("SPARK_GRAFT_STREAM_DATA", scratchRoot)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(dataRoot), "graft_stream_out")
    sys.addShutdownHook(deleteRecursively(dir))
    val ckpt = scratchDir("graft_stream_ckpt")
    withStreamConf(df.sparkSession, noDataBatch) {
      val q = df.writeStream.format("parquet")
        .option("path", s"$dir/data")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // the drain is complete: its checkpoint is dead weight (the parquet
      // under data/ is what the caller reads back) — reclaim the scratch
      deleteRecursively(ckpt)
    }
    df.sparkSession.read.schema(df.schema).parquet(s"$dir/data")
  }

  /** Streaming counter column — Cassandra counter increments as a running
    * streaming aggregate: blind commutative adds merge associatively in
    * state exactly like counter shards merge at read; the exact-decimal
    * sum makes the drained register hash-equal to the batch counter view
    * (oracle = wc_counter_column's SQL verbatim). Complete-mode drain is
    * O(keys), like the windowed aggs. */
  def stCounter(s: SparkSession, d: String): DataFrame =
    drain(eventsStream(s, d)
      .filter(col("event_type") === "click")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_increments"),
        graft.Cols.sumExact(col("value"), 2).as("counter_value")),
      "complete")

  private val stCounterSql = graft.operators.WideColumn.counterColumnSql

  /** The streaming LWW register (mapGroupsWithState, one winner cell per
    * (user_id, event_type)) drained to batch: per-batch winners are
    * monotone under the (ts, event_id) order, so the max over the drained
    * sink is the final register — hash-equal to the batch upsert view
    * (oracle = wc_upsert_lww's SQL verbatim). Proves the Cassandra WRITE
    * path (ingest-as-upsert) agrees with batch compaction cross-engine.
    * Memory-drain bound: one winner row per (touched key × micro-batch) —
    * the AvailableNow single-directory backfill runs O(1) batches so the
    * sink holds O(keys) here, but a long-running many-trigger ingest grows
    * with batches; production points this writeStream at a kafka/files
    * compacted sink instead (update mode can't use the parquet sink,
    * which is append-only). */
  def stUpsertLww(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = eventsStream(s, d).select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventRow]
    drain(EventStreams.lwwWinners(ds).toDF(), "update")
      .groupBy("user_id", "event_type")
      .agg(max_by(struct(col("value"), col("ts")),
        struct(col("ts"), col("event_id"))).as("w"))
      .select(col("user_id"), col("event_type"),
        col("w.value").as("latest_value"), col("w.ts").as("write_ts"))
  }

  private val stUpsertLwwSql = graft.operators.WideColumn.upsertLwwSql

  /** Stream-static enrichment join: the event stream joined to the customer
    * dimension (broadcast — the dim is static and small vs the stream, the
    * canonical streaming-enrichment shape) and aggregated per (day,
    * segment). The static side is re-read per micro-batch by Structured
    * Streaming, so dim updates between batches are picked up — exactly the
    * dimension-refresh semantics a 100 TB ingest wants. Exact-decimal sums
    * keep the drained result hash-equal to the batch join (the oracle). */
  def stEnrichJoin(s: SparkSession, d: String): DataFrame = {
    val dim = graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    drain(eventsStream(s, d)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(date_trunc("day", col("ts")).as("day"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        graft.Cols.sumExact(col("value"), 2).as("total_value")),
      "complete")
  }

  private val stEnrichJoinSql =
    """SELECT date_trunc('day', ts) AS day, c_mktsegment AS segment,
      | COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY date_trunc('day', ts), c_mktsegment""".stripMargin

  /** STREAM-STREAM interval join — the attribution query (purchase within
    * 30 min of a view by the same user) as a watermarked self-join of the
    * event stream: both sides buffer state keyed on user_id, the time-range
    * predicate bounds how long a row waits for matches, and the watermarks
    * let Spark evict state older than the range — the canonical bounded-
    * state stream-stream join at any scale. The pair set is O(matches) —
    * unbounded at scale — so it drains through the FILES sink (executor →
    * disk, never driver memory; VERDICT r3 #2); the bounded per-day
    * aggregate is then computed on the read-back. (Aggregating inside the
    * stream isn't an option here: the entry's COUNT(DISTINCT) reductions
    * are unsupported on streaming frames.) Oracle = the identical interval
    * self-join in batch SQL.
    *
    * Oracle-equality note: the staged source is a single file → ONE
    * AvailableNow data micro-batch, so no pair can arrive after watermark
    * eviction. With multi-file staging, cross-batch pairs separated by more
    * than the 1 h watermark could be dropped as late — widen the watermark
    * beyond the data span if staging ever changes. */
  def stStreamStreamJoin(s: SparkSession, d: String): DataFrame = {
    val ev = eventsStream(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    val pairs = views.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
    drainToFiles(pairs)
      .groupBy(to_date(col("view_ts")).as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("view_id")).as("n_views_converted"))
  }

  private val stStreamStreamJoinSql =
    """WITH v AS (SELECT user_id, ts AS view_ts, event_id AS view_id
      |           FROM events WHERE event_type = 'view'),
      | p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
      |       FROM events WHERE event_type = 'purchase'),
      | pairs AS (
      |  SELECT v.user_id, v.view_ts, v.view_id
      |  FROM v JOIN p ON v.user_id = p.user_id
      |   AND p.purchase_ts >= v.view_ts
      |   AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE)
      |SELECT CAST(view_ts AS DATE) AS day, COUNT(*) AS n_pairs,
      | COUNT(DISTINCT user_id) AS n_users,
      | COUNT(DISTINCT view_id) AS n_views_converted
      |FROM pairs GROUP BY CAST(view_ts AS DATE)""".stripMargin

  /** STREAM-STREAM LEFT OUTER interval join — unmatched-attribution: every
    * view with no same-user purchase within 30 min is emitted NULL-extended
    * when the watermark passes its eviction bound. This is the state-
    * eviction semantics the inner join never exercises: an outer result can
    * only be produced once Spark PROVES no future match is possible, i.e.
    * when the global watermark (min over both sides of max-event-time −
    * 1 h delay) passes view_ts + 30 min and the buffered view is evicted.
    * The single-file staging puts all data in one micro-batch (watermark
    * still at 0 → nothing evicted mid-batch); the trailing no-data
    * micro-batch advances the watermark and flushes the evictable unmatched
    * state. Views young enough to still match (view_ts + 30 min ≥ final
    * watermark) stay buffered and are NOT emitted — the oracle reproduces
    * that eviction bound explicitly, so the entry hash-proves Spark's
    * outer-join eviction rule cross-engine. */
  def stAttributionUnmatched(s: SparkSession, d: String): DataFrame = {
    val ev = eventsStream(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = views.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
    // noDataBatch=true: the NULL-extended rows only exist once the
    // trailing no-data micro-batch advances the watermark past
    // view_ts + 30 min and evicts the unmatched views — the one drained
    // entry whose RESULT depends on that batch (see withStreamConf)
    drainToFiles(joined, noDataBatch = true)
      .filter(col("purchase_id").isNull)
      .groupBy(to_date(col("view_ts")).as("day"))
      .agg(count(lit(1)).as("n_unmatched_views"),
        countDistinct(col("user_id")).as("n_users"))
  }

  private val stAttributionUnmatchedSql =
    """WITH v AS (SELECT user_id, ts AS view_ts, event_id AS view_id
      |           FROM events WHERE event_type = 'view'),
      | p AS (SELECT user_id, ts AS purchase_ts
      |       FROM events WHERE event_type = 'purchase'),
      | wm AS (SELECT LEAST((SELECT MAX(view_ts) FROM v),
      |                     (SELECT MAX(purchase_ts) FROM p))
      |               - INTERVAL 1 HOUR AS w),
      | unmatched AS (
      |  SELECT v.user_id, v.view_ts FROM v, wm
      |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id
      |     AND p.purchase_ts >= v.view_ts
      |     AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE)
      |   AND v.view_ts + INTERVAL 30 MINUTE < wm.w)
      |SELECT CAST(view_ts AS DATE) AS day, COUNT(*) AS n_unmatched_views,
      | COUNT(DISTINCT user_id) AS n_users
      |FROM unmatched GROUP BY CAST(view_ts AS DATE)""".stripMargin

  /** Streaming exact dedup drained to batch: the surviving fingerprint set
    * (which PHYSICAL duplicate row survives depends on arrival order, so the
    * deterministic — and pipeline-relevant — result is the fp set itself).
    * Drained via the files sink, not memory: the keep-list is O(corpus). */
  def stDedup(s: SparkSession, d: String): DataFrame =
    drainToFiles(DocumentStreams.dedupExact(documentsStream(s, d)))
      .select("fp")

  private val stDedupSql =
    """SELECT DISTINCT
      | md5(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'),
      |   '\s+', ' ', 'g')) AS fp
      |FROM documents""".stripMargin

  /** Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    * evicts seen-key state once the watermark passes it — the production
    * answer to st_dedup_exact's grow-forever key state when duplicates only
    * arrive near-in-time (retry storms, at-least-once source replay). Key =
    * (user_id, event_type, minute): collapse retried writes within their
    * minute. Single-batch staging note (ADVICE r3): with AvailableNow over
    * one staged file everything lands in micro-batch 1, so no eviction can
    * drop a late duplicate and the drained set equals batch DISTINCT
    * exactly — and the 30-day delay also covers the whole data span should
    * the staging ever split into multiple files. Files-sink drain: the
    * keep-list is O(distinct keys). */
  def stDedupWatermark(s: SparkSession, d: String): DataFrame =
    drainToFiles(eventsStream(s, d)
      .withColumn("minute", date_trunc("minute", col("ts")))
      .withWatermark("minute", "30 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "minute")
      .select("user_id", "event_type", "minute"))

  private val stDedupWatermarkSql =
    """SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS minute
      |FROM events""".stripMargin

  /** The streaming MAINTAINER of the exact-distinct partial layer: the
    * live job that keeps ev_bitmap_distinct's daily (day, bucket, bitmap)
    * partials current as events arrive — batch rollups (week/month/
    * all-time) then merge partials without ever re-scanning raw events.
    * State and drain are both O(days × active-buckets), volume-
    * independent. The drained partials roll up to per-day counts here so
    * the oracle is the exact per-day COUNT(DISTINCT) — proving the
    * streamed bitmaps carry precisely the batch answer. */
  def stBitmapDaily(s: SparkSession, d: String): DataFrame =
    drain(eventsStream(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"),
        expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm")),
      "complete")
      .groupBy("day")
      .agg(sum(expr("bitmap_count(bm)")).as("n_active"))

  private val stBitmapDailySql =
    """SELECT date_trunc('day', ts) AS day, COUNT(DISTINCT user_id) AS n_active
      |FROM events GROUP BY date_trunc('day', ts)""".stripMargin

  /** The streaming MAINTAINER of the near-dup signature substrate: per-doc
    * 64-perm MinHash signatures computed as docs arrive, the live half of
    * the dedup index lifecycle (the batch half builds pair graph + labels
    * from exactly these signatures — dedup_labels_prebuilt). The signature
    * is a pure per-doc function (native shingle kernel → md5 universal
    * hashes → 64 array minima, all map-side), so the only state is the
    * at-least-once replay guard: dropDuplicatesWithinWatermark on doc_id,
    * O(docs-in-watermark) and evicted as the watermark passes. Files-sink
    * drain (the signature table is corpus-sized). The df-cap of the batch
    * PAIR pipeline is deliberately absent: document frequency is a
    * corpus-level join-side cut, not part of a doc's signature. Oracle:
    * the same 64 minima replayed per doc as DuckDB list comprehensions
    * over the same (i, band) constants — hash-green. */
  def stMinhashSig(s: SparkSession, d: String): DataFrame = {
    val P = 1000000007L
    val shingles = org.apache.spark.sql.GraftColumns.column(
      graft.plans.WordShingles(
        org.apache.spark.sql.GraftColumns.expression(col("text"))))
    val sigCols = (0 until 64).map(i =>
      array_min(transform(col("hs"),
        h => pmod(h * lit(2L * i + 1) + lit(97L * i), lit(P)))).as(s"m$i"))
    drainToFiles(documentsStream(s, d)
      .withWatermark("ingest_ts", "30 days")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), shingles.as("sh"))
      .filter(size(col("sh")) > 0)
      // hash each distinct shingle ONCE, then the 64 universal hashes are
      // integer ops over the hashed array (the batch sig pipeline's shape)
      .withColumn("hs", transform(col("sh"),
        sg => pmod(graft.functions.TextFunctions.md5Int(sg), lit(P))))
      .select(col("doc_id") +: sigCols: _*))
  }

  private val stMinhashSigSql: String = {
    val P = 1000000007L
    val md5 = graft.functions.TextFunctions.md5IntSql("sg")
    val sigCols = (0 until 64).map(i =>
      s"list_min([(hv * ${2L * i + 1} + ${97L * i}) % $P FOR hv IN hs]) AS m$i")
      .mkString(",\n | ")
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       | sh AS (SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2] FOR i IN generate_series(1, len(toks)-2)]) AS sh FROM t),
       | hs AS (SELECT doc_id, [$md5 % $P FOR sg IN sh] AS hs FROM sh WHERE len(sh) > 0)
       |SELECT doc_id,
       | $sigCols
       |FROM hs""".stripMargin
  }

  /** The streaming MAINTAINER of the frequency-sketch tier: keeps
    * ev_cms_frequency's Count-Min (row, bucket) → count table current as
    * events arrive. The sketch IS the streaming state — d×w = 4096
    * integer cells regardless of volume, the cheapest state in the
    * suite (st_bitmap_daily's state grows with days×buckets; this is
    * CONSTANT). Map-side half (key hash → d (row, bucket) pairs) is the
    * exact batch code (Events.cmsPairs), so the streamed sketch cannot
    * drift from the batch one; the entry then serves the same probe
    * point-reads, and the oracle is ev_cms_frequency's SQL VERBATIM —
    * proving the live sketch answers with precisely the batch estimate. */
  def stCmsFrequency(s: SparkSession, d: String): DataFrame =
    graft.operators.Events.cmsProbeEstimates(s,
      drain(graft.operators.Events.cmsPairs(eventsStream(s, d))
        .groupBy("row", "bucket")
        .agg(count(lit(1)).as("c")),
        "complete"))

  /** Streaming FILTER FUNNEL — live gate monitoring as the corpus streams
    * in, twin of txt_filter_funnel: the per-doc first-failed-gate labeler
    * is the batch code VERBATIM (TextAnalysis.funnelStages — map-only, so
    * it lifts to a stream unchanged), the running (stage, n) counts are
    * the only state (≤6 rows — constant like the CMS sketch), and the
    * drained counts feed the same waterfall finisher. Oracle =
    * txt_filter_funnel's SQL verbatim: the live monitor provably answers
    * with the batch audit's numbers. */
  def stFilterFunnel(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.funnelFromStageCounts(
      drain(graft.operators.TextAnalysis.funnelStages(documentsStream(s, d))
        .groupBy("stage").agg(count(lit(1)).as("n")),
        "complete"))

  /** Streaming anomaly detector: the daily per-type counts accumulate in
    * a streaming aggregate (complete mode — the day×type state is
    * calendar-bounded, not data-bounded), and the trailing-7-day z-score
    * finishes batch-side on the drained daily frame, exactly the batch
    * twin's window. A production deployment would keep the same daily
    * state and emit the z-score per trigger; the finishing window's
    * input is |days|×|types| rows at ANY corpus scale. Oracle: shared
    * with ev_anomaly_zscore — streaming arrival order must not move a
    * single fixed-point z-score. */
  def stAnomalyZscore(s: SparkSession, d: String): DataFrame = {
    val daily = drain(eventsStream(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("n")),
      "complete")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    daily
      .withColumn("n_prior", count(col("n")).over(w))
      .withColumn("mean", avg(col("n")).over(w))
      .withColumn("var",
        avg(col("n") * col("n")).over(w) - avg(col("n")).over(w) * avg(col("n")).over(w))
      .filter(col("n_prior") === 7 && col("var") > 0)
      .select(col("day"), col("event_type"), col("n").cast("long").as("n_events"),
        (floor((col("n") - col("mean")) / sqrt(col("var")) * 1e6 + 0.5) / 1e6)
          .as("zscore"))
  }

  /** Streaming Markov transition matrix — twin of ev_markov_transitions:
    * per-user last-event state (one StepState row per user, constant)
    * bridges micro-batches while each arriving event emits its
    * (from → to) step; the emissions drain through the files sink
    * (O(events)) and the |types|²-sized matrix + fp6 row normalization
    * finish batch-side. Oracle shared verbatim with the batch twin —
    * lead() over a sorted partition and cross-batch carried state must
    * produce the identical step multiset. */
  def stMarkovTransitions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = eventsStream(s, d).select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventRow]
    val steps = drainToFiles(EventStreams.transitionSteps(ds).toDF())
    val counts = steps
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    counts
      .withColumn("row_total", sum(col("n_transitions")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        (floor(col("n_transitions").cast("double") / col("row_total") * 1e6 + 0.5) / 1e6)
          .as("p"))
  }

  /** Streaming twin of txt_bpe_tokenize: the ingest-side token
    * accounting a live pipeline runs as documents arrive — the trained
    * merge table (the nightly-build model, trained on the batch corpus)
    * rides into the stream as a literal and the codegen'd kernel is a
    * stateless map, so the drain is append-mode with zero state. The
    * oracle is the batch twin's SQL VERBATIM: hash-green ⟺ streamed
    * accounting equals the batch recount bit-for-bit. */
  def stBpeTokenize(s: SparkSession, d: String): DataFrame =
    drain(graft.operators.BpeOps.tokenizeOf(s, d,
      documentsStream(s, d).select(col("doc_id"), col("text"))), "append")

  private val stBpeTokenizeSql = graft.operators.BpeOps.bpeTokenizeSql

  // ---- streaming ingest INTO the connector (r11) ---------------------------
  /** The write half of a streaming deployment: the events stream drains
    * via foreachBatch, each micro-batch ONE append through the DSv2
    * token-range sink — so a micro-batch is exactly one manifest-atomic
    * commit (the per-batch BatchStatement guarantee: a reader racing the
    * stream sees whole batches, never a torn one) and the manifest
    * history IS the stream's commit log (StreamingEntriesSpec walks it:
    * one version per batch, counts prefix-summing to the total). The
    * source is staged as 4 files with maxFilesPerTrigger=1 → 4 real
    * micro-batches. The entry reads the final table back THROUGH the
    * connector and aggregates per event type, so the oracle (the same
    * aggregate over raw events) proves no batch was lost or doubled
    * across the stream → sink → manifest → scan round trip. Exactly-once
    * here rests on AvailableNow's bounded replay + idempotent-by-content
    * appends; a production resume after a mid-stream crash would key the
    * staged writeId by (checkpoint batchId) so a replayed batch replaces
    * rather than doubles — the documented lakehouse idempotent-sink
    * move. */
  private[graft] def clearConnectorStreamCache(): Unit = {
    graft.PrebuiltDirs.clear("graft_connector_stream")
    graft.PrebuiltDirs.clear("graft_connector_pipe")
    graft.PrebuiltDirs.clear("graft_connector_cdf")
  }

  private[graft] def connectorStreamDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_stream", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_ev4")
      srcDir.toFile.deleteOnExit()
      graft.Tables.events(s, d).select("event_id", "event_type", "value")
        .repartition(4)
        .write.mode("overwrite").parquet(srcDir.toString)
      val ckpt = scratchDir("graft_stream_ckpt")
      ckpt.toFile.deleteOnExit()
      val sch = s.read.parquet(srcDir.toString).schema
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val q = src.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.format(fmt).option("pk", "event_id")
            .option("schema", "event_id BIGINT, event_type STRING, value DOUBLE")
            .mode("append").save(dir)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      dir
    }

  /** CDC TAIL — `readStream` FROM the connector (VERDICT r14 next-round
    * #1, the read half of the commit-log story st_connector_append proved
    * for writes): the stream's offset is the manifest VERSION, each
    * micro-batch the files ADDED between two versions — the manifest
    * history already being atomic, ordered and pinned-readable is exactly
    * what a streaming source needs. The table is the 4-micro-batch
    * appended events table the append entry built (one manifest version
    * per sink batch — a real multi-version history); a fresh tail
    * backfills it from version 0 and the drained aggregate hash-equals
    * the batch oracle, so no version was lost or doubled across
    * sink → manifest → tail. Version-offset restart recovery and the
    * append-only (rewrite-refusal) gate are spec-driven
    * (TokenRangeTailSpec). Replaces the reference's poll-the-partition
    * re-scan (server.py:95) — Cassandra's CDC analog. */
  def stConnectorTail(s: SparkSession, d: String): DataFrame = {
    val dir = connectorStreamDir(s, d)
    val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
    val src = s.readStream.format(fmt).option("pk", "event_id").load(dir)
    drain(src.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.Cols.sumExact(col("value"), 2).as("total_value")), "complete")
  }

  /** INCREMENTAL CURATION PIPELINE — tail ∘ filter ∘ sink (r15, the
    * composition the whole storage arc was built for): a CDC tail of the
    * connector events table (offset = manifest version, capped at 2
    * versions/trigger so the drain takes multiple REAL micro-batches)
    * feeds a curation gate (`value > 50` — the quality-filter shape) and
    * each surviving micro-batch lands as ONE manifest-atomic append in a
    * SECOND connector table — exactly-once incremental ETL over the
    * engine's own storage: source offsets are checkpointed versions,
    * sink batches are atomic commits, and a crash between them replays
    * the batch whose append never published. The entry reads the curated
    * table back through the connector and aggregates; the oracle is the
    * same filtered aggregate over raw events, so the hash check proves
    * NO batch was lost, doubled, or torn across
    * tail → gate → sink → manifest → scan. */
  private def connectorPipelineDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_pipe", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      val src = connectorStreamDir(s, d) // the 4-version appended table
      val ckpt = scratchDir("graft_pipe_ckpt")
      ckpt.toFile.deleteOnExit()
      val q = s.readStream.format(fmt).option("pk", "event_id")
        .option("maxVersionsPerTrigger", "2").load(src)
        .filter(col("value") > 50.0)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.format(fmt).option("pk", "event_id")
            .option("schema", "event_id BIGINT, event_type STRING, value DOUBLE")
            .mode("append").save(dir)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      dir
    }

  def stConnectorPipeline(s: SparkSession, d: String): DataFrame = {
    val dir = connectorPipelineDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "event_id")
      // declared DDL: a corpus where NO row passes the gate leaves the
      // curated table empty (zero commits) — the read must still resolve
      .option("schema", "event_id BIGINT, event_type STRING, value DOUBLE")
      .load(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_curated"),
        graft.Cols.sumExact(col("value"), 2).as("curated_value"))
  }

  private val stConnectorPipelineSql =
    """SELECT event_type, COUNT(*) AS n_curated,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS curated_value
      |FROM events WHERE value > 50.0 GROUP BY event_type""".stripMargin

  /** CHANGE DATA FEED over the connector (r15 continuation — Delta's CDF
    * / Cassandra's CDC-over-mutations analog): a connector table takes an
    * append, a bounded DELETE and an upsert with the feed enabled (both
    * bind deletion vectors: they are within the table's
    * `dml.fallback_rows` bound); they record the rows they remove/replace
    * as `_cdf/` sidecars
    * pinned by their manifest's `#cdf` header, and a `changeFeed`
    * readStream drains EVERY mutation with its `_change_type` —
    * synthesized `insert` for appends, recorded `delete` /
    * `update_preimage` / `update_postimage` for rewrites (compactions
    * are skipped: content-preserving). The oracle recomputes the same
    * change log from raw events in pure SQL, so the hash proves the
    * feed serves each mutation exactly once with its correct image.
    * The mutation script is deterministic: DELETE the first 500 keys
    * ≡ 0 (mod 97) (bounded — deleteKeys is a driver-list op), UPDATE
    * value + 1000 for keys ≡ 0 (mod 101) not deleted. */
  private def connectorCdfDir(s: SparkSession, d: String): String =
    graft.PrebuiltDirs.cached("graft_connector_cdf", d) { dir =>
      val fmt = classOf[graft.sources.connector.TokenRangeSource].getName
      val ops = graft.sources.connector.TokenRangeOps
      val ev = graft.Tables.events(s, d).select("event_id", "event_type", "value")
      ev.write.format(fmt).option("pk", "event_id")
        .option("schema", "event_id BIGINT, event_type STRING, value DOUBLE")
        .mode("append").save(dir)
      ops.enableChangeFeed(dir)
      val delKeys = ev.filter(col("event_id") % 97 === 0)
        .select("event_id").orderBy("event_id").limit(500)
        .collect().map(_.getLong(0)).toSeq
      if (delKeys.nonEmpty) ops.deleteKeys(s, dir, "event_id", delKeys)
      val upd = ev
        .filter(col("event_id") % 101 === 0 &&
          !(col("event_id") % 97 === 0 &&
            col("event_id") <= lit(delKeys.lastOption.getOrElse(Long.MinValue))))
        .withColumn("value", col("value") + lit(1000.0))
      ops.upsert(s, dir, "event_id", upd)
      dir
    }

  def stConnectorCdf(s: SparkSession, d: String): DataFrame = {
    val dir = connectorCdfDir(s, d)
    val src = s.readStream
      .format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "event_id").option("changeFeed", "true").load(dir)
    drain(src.groupBy("_change_type", "event_type")
      .agg(count(lit(1)).as("n_changes"),
        graft.Cols.sumExact(col("value"), 2).as("total_value")), "complete")
  }

  /** INCREMENTAL AGGREGATION over the change feed — the
    * materialized-view-maintenance property that makes a CDF worth its
    * write-time cost: folding every mutation as a SIGNED delta
    * (insert/update_postimage = +, delete/update_preimage = −) must
    * reproduce the aggregate of the table's FINAL state exactly — no
    * re-scan of the base table, ever. Exact-decimal casts make the
    * pre/post cancellation exact (a double fold would leak ulps), so
    * the oracle — the same aggregate computed directly on the final
    * state in SQL — hash-matches. This is the downstream consumer every
    * CDC system exists for: a summary table maintained at mutation
    * grain over 100 TB of base data it never re-reads. */
  def stCdfIncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val dir = connectorCdfDir(s, d)
    val src = s.readStream
      .format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "event_id").option("changeFeed", "true").load(dir)
    val dec = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
    val add = col("_change_type").isin("insert", "update_postimage")
    drain(src.groupBy("event_type")
      .agg(sum(when(add, 1L).otherwise(-1L)).as("n_net"),
        sum(when(add, dec).otherwise(-dec)).cast("double").as("value_net")),
      "complete")
  }

  private val stCdfIncrementalAggSql =
    """WITH del AS (
      |  SELECT * FROM events WHERE event_id % 97 = 0
      |  ORDER BY event_id LIMIT 500),
      |final AS (
      |  SELECT event_type,
      |    CASE WHEN e.event_id % 101 = 0 THEN value + 1000.0
      |         ELSE value END AS value
      |  FROM events e
      |  WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.event_id = e.event_id))
      |SELECT event_type, COUNT(*) AS n_net,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_net
      |FROM final GROUP BY event_type""".stripMargin

  private val stConnectorCdfSql =
    """WITH del AS (
      |  SELECT * FROM events WHERE event_id % 97 = 0
      |  ORDER BY event_id LIMIT 500),
      |upd AS (
      |  SELECT * FROM events e WHERE event_id % 101 = 0
      |  AND NOT EXISTS (SELECT 1 FROM del WHERE del.event_id = e.event_id)),
      |changes AS (
      |  SELECT 'insert' AS _change_type, event_type, value FROM events
      |  UNION ALL SELECT 'delete', event_type, value FROM del
      |  UNION ALL SELECT 'update_preimage', event_type, value FROM upd
      |  UNION ALL SELECT 'update_postimage', event_type, value + 1000.0 FROM upd)
      |SELECT _change_type, event_type, COUNT(*) AS n_changes,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM changes GROUP BY 1, 2""".stripMargin

  def stConnectorAppend(s: SparkSession, d: String): DataFrame = {
    val dir = connectorStreamDir(s, d)
    s.read.format(classOf[graft.sources.connector.TokenRangeSource].getName)
      .option("pk", "event_id").load(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.Cols.sumExact(col("value"), 2).as("total_value"))
  }

  private val stConnectorAppendSql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type""".stripMargin

  override def entries: Seq[(String, QueryFn, Option[String])] = Seq(
    ("st_connector_append", stConnectorAppend _, Some(stConnectorAppendSql)),
    // same oracle as the append entry: the tail must reproduce the batch
    // aggregate exactly — that equality IS the no-lost-no-doubled proof
    ("st_connector_tail", stConnectorTail _, Some(stConnectorAppendSql)),
    ("st_connector_pipeline", stConnectorPipeline _, Some(stConnectorPipelineSql)),
    ("st_connector_cdf", stConnectorCdf _, Some(stConnectorCdfSql)),
    ("st_cdf_incremental_agg", stCdfIncrementalAgg _, Some(stCdfIncrementalAggSql)),
    ("st_bpe_tokenize", stBpeTokenize _, Some(stBpeTokenizeSql)),
    ("st_markov_transitions", stMarkovTransitions _,
      Some(graft.operators.Events.markovTransitionsSql)),
    ("st_anomaly_zscore", stAnomalyZscore _, Some(graft.operators.Events.anomalyZscoreSql)),
    ("st_filter_funnel", stFilterFunnel _, Some(graft.operators.TextAnalysis.filterFunnelSql)),
    ("st_cms_frequency", stCmsFrequency _, Some(graft.operators.Events.cmsFrequencySql)),
    ("st_minhash_sig", stMinhashSig _, Some(stMinhashSigSql)),
    ("st_bitmap_daily", stBitmapDaily _, Some(stBitmapDailySql)),
    ("st_dedup_watermark", stDedupWatermark _, Some(stDedupWatermarkSql)),
    ("st_tumbling_window", stTumbling _, Some(stTumblingSql)),
    ("st_sliding_window", stSliding _, Some(stSlidingSql)),
    ("st_session_window", stSessions _, Some(stSessionsSql)),
    ("st_funnel", stFunnel _, Some(stFunnelSql)),
    ("st_upsert_lww", stUpsertLww _, Some(stUpsertLwwSql)),
    ("st_counter_column", stCounter _, Some(stCounterSql)),
    ("st_enrich_join", stEnrichJoin _, Some(stEnrichJoinSql)),
    ("st_stream_stream_join", stStreamStreamJoin _, Some(stStreamStreamJoinSql)),
    ("st_attribution_unmatched", stAttributionUnmatched _, Some(stAttributionUnmatchedSql)),
    ("st_dedup_exact", stDedup _, Some(stDedupSql)))
}
