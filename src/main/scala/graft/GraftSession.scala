package graft

import org.apache.spark.sql.SparkSession

/** Tuned session factory (SURVEY.md §2.H) for tests and benchmarks.
  *
  * The driver's Verify/Bench construct their own sessions; every query in
  * this library is written to be correct under a vanilla ANSI Spark 4
  * session — these settings only affect performance, never results.
  */
object GraftSession {

  /** The semantic + performance SQL settings `local` and `cluster` share.
    * `shufflePartitions` should track total cores (2-3× on a cluster).
    * SessionSettingsSpec runs every entry with the settings absent from
    * Verify's reset to Spark's defaults and checks the results match. */
  private[graft] def sqlSettings(shufflePartitions: Int): Map[String, Any] = Map(
    "spark.sql.shuffle.partitions" -> shufflePartitions,
    "spark.sql.session.timeZone" -> "UTC",
    // AQE: runtime partition coalescing + skew-join splitting; at cluster
    // scale this is what keeps post-shuffle partitions memory-sized.
    "spark.sql.adaptive.enabled" -> true,
    "spark.sql.adaptive.coalescePartitions.enabled" -> true,
    "spark.sql.adaptive.skewJoin.enabled" -> true,
    "spark.sql.autoBroadcastJoinThreshold" -> 64L * 1024 * 1024,
    "spark.sql.parquet.filterPushdown" -> true,
    "spark.sql.parquet.aggregatePushdown" -> true,
    // a join keyed on a SUPERSET of a table's bucket columns can reuse the
    // bucket partitioning (rows equal on all keys are equal on the bucket
    // key, hence co-located) — required for the zero-shuffle incremental
    // compaction merge on tables bucketed by partition key alone
    "spark.sql.requireAllClusterKeysForCoPartition" -> false,
    // janino class cache (static conf, default 100 entries): a workload
    // of many distinct query shapes — or ONE query whose plan generates
    // >100 codegen units — churns the cache and recompiles the same
    // sources every run (r19, guide §1.2 per-task work)
    "spark.sql.codegen.cache.maxEntries" -> 2000)

  /** The builder `local` and `cluster` share: the extensions plus
    * [[sqlSettings]]. */
  private def base(shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName("graft")
      .withExtensions(new plans.GraftExtensions)
      .config(sqlSettings(shufflePartitions))

  private def start(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cluster-deploy builder: master/deploy config comes from spark-submit.
    * At 100 TB also size `spark.sql.files.maxPartitionBytes` (default
    * 128 MB is right for ~1 GB executors-per-core memory). */
  def cluster(shufflePartitions: Int = 2000): SparkSession =
    start(base(shufflePartitions))

  /** Shuffle/broadcast/spill scratch for the single-JVM local session
    * (r20): with no spark.local.dir Spark writes shuffle files to /tmp
    * (ext4 on a VM disk here), and the ContextCleaner's asynchronous
    * sweep of a heavy block's accumulated shuffle dirs becomes a disk-IO
    * storm that inflates the NEXT entries' wall time — the recurring
    * dedup/emb-block "ambient load" both the r19 driver record and the
    * r20 quiet box measured (sentinel drift spikes localized to exactly
    * that block, loadavg rising with zero co-tenants). Bounded-lifetime
    * scratch belongs on the fastest local filesystem: tmpfs when
    * writable, parameterised via SPARK_GRAFT_LOCAL_DIR — a cluster
    * deployment points it at its NVMe array (spark.local.dir is
    * deployment config there, injected by the resource manager). */
  private def localScratch: String = sys.env.get("SPARK_GRAFT_LOCAL_DIR")
    .orElse(Some("/dev/shm").filter(p => new java.io.File(p).canWrite))
    .getOrElse(sys.props("java.io.tmpdir"))

  def local(cores: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession =
    start(base(cores)
      .master(s"local[$cores]")
      .config("spark.local.dir", localScratch)
      .config("spark.ui.enabled", "false")
      // Managed-table warehouse (MessageStore keyspaces) out of the cwd.
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse"))
}
