package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** CHANGE DATA FEED over the token-range connector (r15 continuation —
  * Delta's CDF / Cassandra's CDC-over-mutations analog). Load-bearing
  * claims:
  *   - the plain CDC tail is COMPACTION-TRANSPARENT: an `#op compact`
  *     version inside the tailed range is skipped (content-preserving),
  *     not a failure — and serves nothing twice;
  *   - with the feed enabled, DELETE / upsert / expire record the rows
  *     they remove or replace as a sidecar, and a `changeFeed` read
  *     (batch `table_changes` or streaming) serves them with
  *     `_change_type` / `_commit_version` metadata;
  *   - FEED REPLAY RECONSTRUCTS THE TABLE: folding the feed in commit
  *     order (insert/postimage = put, delete = remove) equals the batch
  *     read — the exactly-once-per-mutation property;
  *   - a content-changing rewrite with NO sidecar fails a feed read
  *     loudly (the feed cannot invent a diff the manifest never held);
  *   - vacuum reaps orphaned sidecars (lost CAS races) but never a
  *     referenced or YOUNG one. */
class TokenRangeCdfSpec extends SparkSpec {
  private val fmt = classOf[TokenRangeSource].getName

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val ddl = "pk BIGINT, v STRING"

  /** `dir` with a one-row vector bound recorded before its first write:
    * statements of two or more keys rewrite what they touch. */
  private def rewriting(dir: String): String = {
    TokenRangeSource.recordPk(dir, "pk", schemaDdl = Some(ddl), morFallbackRows = Some(1L))
    dir
  }

  private def append(dir: String, keys: Seq[Long]): Unit = {
    val s2 = spark; import s2.implicits._
    keys.map(i => (i, s"a$i")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk").option("schema", ddl)
      .mode("append").save(dir)
  }

  private def batchPks(dir: String): Seq[Long] =
    spark.read.format(fmt).option("pk", "pk").load(dir)
      .select("pk").collect().map(_.getLong(0)).toSeq.sorted

  /** One AvailableNow drain of the PLAIN tail; returns drained pks. */
  private def drainTail(dir: String, ckpt: String): Seq[Long] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = spark.readStream.format(fmt).option("pk", "pk").load(dir)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("pk").collect().foreach(r => got.add(r.getLong(0)))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val b = Seq.newBuilder[Long]
    got.forEach(l => b += l.longValue)
    b.result().sorted
  }

  /** One AvailableNow drain of the CHANGE FEED; returns
    * (changeType, version, pk, v) tuples. */
  private def drainFeed(dir: String, ckpt: String): Seq[(String, Int, Long, String)] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, String)]()
    val q = spark.readStream.format(fmt).option("pk", "pk")
      .option("changeFeed", "true").load(dir)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("_change_type", "_commit_version", "pk", "v").collect()
          .foreach(r => got.add((r.getString(0), r.getInt(1), r.getLong(2),
            r.getString(3))))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val b = Seq.newBuilder[(String, Int, Long, String)]
    got.forEach(t => b += t)
    b.result()
  }

  private def feedBatch(dir: String): DataFrame =
    spark.read.format(fmt).option("pk", "pk")
      .option("changeFeed", "true").load(dir)

  test("the plain tail is compaction-transparent: compact versions are skipped, appends around them drain exactly once") {
    val dir = freshDir("graft_cdf_skip")
    val ckpt = freshDir("graft_cdf_skip_ck")
    append(dir, 0L until 40L)
    assert(drainTail(dir, ckpt) == (0L until 40L))
    // compaction retires and rewrites every file — content-preserving
    TokenRangeOps.compact(spark, dir, "pk")
    append(dir, 40L until 60L)
    // the tailed range now holds [compact, append]: the compact version
    // must be SKIPPED (not served — its outputs merge already-served
    // rows; not a failure — it changed no content)
    assert(drainTail(dir, ckpt) == (40L until 60L),
      "exactly the post-compact appends must drain")
    assert(drainTail(dir, ckpt).isEmpty)
  }

  test("batch table_changes: appends serve as inserts with their commit version; startingVersion slices the feed") {
    val dir = freshDir("graft_cdf_batch")
    append(dir, 0L until 10L)  // -> v1 pin + v2 (first commit publishes twice)
    append(dir, 10L until 15L)
    val all = feedBatch(dir)
      .select("_change_type", "_commit_version", "pk").collect()
    assert(all.length == 15)
    assert(all.forall(_.getString(0) == "insert"))
    val vs = all.map(_.getInt(1)).distinct.sorted
    assert(vs.length == 2, s"two append commits expected, got ${vs.toSeq}")
    // slice: only the second commit
    val tail = spark.read.format(fmt).option("pk", "pk")
      .option("changeFeed", "true")
      .option("startingVersion", vs.last.toString).load(dir)
      .select("pk").collect().map(_.getLong(0)).sorted
    assert(tail.toSeq == (10L until 15L))
  }

  test("DELETE records its rows: the feed serves them as delete, and survivor rewrites are never re-emitted") {
    val dir = freshDir("graft_cdf_del")
    val ckpt = freshDir("graft_cdf_del_ck")
    append(dir, 0L until 30L)
    TokenRangeOps.enableChangeFeed(dir)
    assert(drainFeed(dir, ckpt).map(_._1).forall(_ == "insert"))
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(3L, 7L, 11L))
    val changes = drainFeed(dir, ckpt)
    assert(changes.map(_._1).toSet == Set("delete"),
      s"only the deleted rows must serve, got ${changes.take(5)}")
    assert(changes.map(_._3).sorted == Seq(3L, 7L, 11L))
    // original values ride along (the preimage a consumer needs)
    assert(changes.find(_._3 == 7L).get._4 == "a7")
    assert(drainFeed(dir, ckpt).isEmpty)
  }

  test("upsert classifies pre/post images and inserts; feed replay reconstructs the table") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_cdf_ups")
    append(dir, 0L until 20L)
    TokenRangeOps.enableChangeFeed(dir)
    // 5 existing keys re-bound, 3 new keys
    val incoming = ((0L until 5L).map(i => (i, s"u$i")) ++
      (100L until 103L).map(i => (i, s"n$i"))).toDF("pk", "v")
    TokenRangeOps.upsert(spark, dir, "pk", incoming)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(1L, 101L))
    val feed = feedBatch(dir)
      .select("_change_type", "_commit_version", "pk", "v").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3)))
    val byType = feed.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byType("update_preimage") == 5 && byType("update_postimage") == 5)
    assert(byType("insert") == 20 + 3 && byType("delete") == 2)
    assert(feed.filter(_._1 == "update_preimage").forall(t => t._4 == s"a${t._3}"))
    assert(feed.filter(_._1 == "update_postimage").forall(t => t._4 == s"u${t._3}"))
    // REPLAY: fold in commit order — must equal the batch read exactly
    val state = scala.collection.mutable.Map.empty[Long, String]
    feed.sortBy(_._2).foreach {
      case ("insert" | "update_postimage", _, k, v) => state(k) = v
      case ("delete", _, k, _) => state.remove(k)
      case _ => () // preimage: informational
    }
    val table = spark.read.format(fmt).option("pk", "pk").load(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state.toMap == table, "feed replay must reconstruct the table")
  }

  test("expire and range tombstones feed their deleted rows even on the whole-file retire path") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_cdf_exp")
    // clustered table so deleteCkRange applies; ck = ts
    (0L until 16L).map(i => (1L, i, s"m$i")).toDF("pk", "ts", "v")
      .write.format(fmt).option("pk", "pk").option("ck", "ts")
      .option("rollRows", "4")
      .option("schema", "pk BIGINT, ts BIGINT, v STRING")
      .mode("append").save(dir)
    TokenRangeOps.enableChangeFeed(dir)
    // [0,8) covers two whole slabs — the retire-unread fast path; with
    // the feed on they must still be READ and recorded
    TokenRangeOps.deleteCkRange(spark, dir, "pk", 1L, 0L, 8L)
    val feed = feedBatch(dir).filter(col("_change_type") === "delete")
      .select("ts").collect().map(_.getLong(0)).sorted
    assert(feed.toSeq == (0L until 8L),
      s"all tombstoned rows must feed, got ${feed.toSeq}")
  }

  test("a content-changing rewrite with no sidecar fails a feed read loudly; compact never does") {
    val dir = freshDir("graft_cdf_nofeed")
    append(dir, 0L until 10L)
    // feed NOT enabled: the delete records nothing
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(2L))
    val ex = intercept[Exception] { feedBatch(dir).collect() }
    assert(ex.getMessage.contains("no recorded change sidecar"),
      s"got: ${ex.getMessage}")
    // compact alone never breaks the feed
    val dir2 = freshDir("graft_cdf_compactok")
    append(dir2, 0L until 10L)
    TokenRangeOps.compact(spark, dir2, "pk")
    assert(feedBatch(dir2).count() == 10)
  }

  test("vacuum reaps aged orphan sidecars, keeps referenced and young ones") {
    val dir = freshDir("graft_cdf_vac")
    append(dir, 0L until 12L)
    TokenRangeOps.enableChangeFeed(dir)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(5L))
    val cdfRoot = new java.io.File(dir, "_cdf")
    val referenced = cdfRoot.listFiles().map(_.getName).toSet
    assert(referenced.size == 1)
    // plant an orphan (a lost CAS race's leftover), aged past the TTL
    val orphan = new java.io.File(cdfRoot, "orphan000001")
    orphan.mkdirs()
    val f = new java.io.File(orphan, "part-0.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    f.setLastModified(old); orphan.setLastModified(old)
    TokenRangeOps.vacuum(dir, retainFrom = 1, stagingTtlMillis = 3600_000L)
    val left = cdfRoot.listFiles().map(_.getName).toSet
    assert(left == referenced, s"orphan must die, referenced must live: $left")
    // the referenced sidecar still serves
    assert(feedBatch(dir).filter(col("_change_type") === "delete").count() == 1)
  }

  test("SQL UPDATE/DELETE on a feed table record TRUE update images; the fold still reconstructs") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cdf_sql").toString
    val cat = "graft_cdf_sqlcat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[TokenRangeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.ks")
    spark.sql(s"CREATE TABLE $cat.ks.t (pk BIGINT, v STRING) " +
      "TBLPROPERTIES('pk'='pk')")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) FROM range(0, 24)")
    val path = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    TokenRangeOps.enableChangeFeed(path)
    spark.sql(s"UPDATE $cat.ks.t SET v = 'patched' WHERE pk = 5")
    spark.sql(s"DELETE FROM $cat.ks.t WHERE v = 'a9'") // non-key predicate
    val feed = feedBatch(path)
      .select("_change_type", "_commit_version", "pk", "v").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3)))
    // the UPDATE encodes as a TRUE pre/post image pair (r16, VERDICT r15
    // #2 — the multiset diff is CLASSIFIED by pk: keys on both sides of
    // the diff pair up); the DELETE as one delete; untouched same-file
    // rows cancel out of the diff entirely
    val nonInsertBackfill = feed.filterNot(t => t._1 == "insert" && t._4.startsWith("a"))
    assert(feed.count(t =>
      t._1 == "update_preimage" && t._3 == 5L && t._4 == "a5") == 1)
    assert(feed.count(t =>
      t._1 == "update_postimage" && t._3 == 5L && t._4 == "patched") == 1)
    assert(feed.count(t => t._1 == "delete" && t._3 == 9L) == 1)
    assert(nonInsertBackfill.length == 3,
      s"exactly the three change rows beyond the backfill: $nonInsertBackfill")
    // fold in commit order; within one version removals apply before
    // additions (an image pair IS that version's update)
    val state = scala.collection.mutable.Map.empty[Long, String]
    feed.sortBy(t =>
      (t._2, if (t._1 == "delete" || t._1 == "update_preimage") 0 else 1))
      .foreach {
        case ("insert" | "update_postimage", _, k, v) => state(k) = v
        case ("delete" | "update_preimage", _, k, _) => state.remove(k)
        case _ => ()
      }
    val table = spark.sql(s"SELECT * FROM $cat.ks.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state.toMap == table, "feed fold must reconstruct the table")
  }

  test("the feed serves across ALTER TABLE ADD: pre-ALTER sidecars and files read NULL for the new column") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_cdf_alter")
    append(dir, 0L until 12L)
    TokenRangeOps.enableChangeFeed(dir)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(2L)) // pre-ALTER sidecar
    TokenRangeOps.addColumn(dir, "extra STRING")
    (20L until 24L).map(i => (i, s"a$i", s"x$i")).toDF("pk", "v", "extra")
      .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    val feed = feedBatch(dir)
      .select("_change_type", "pk", "extra").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2)))
    // pre-ALTER rows (both the backfill inserts and the delete's
    // sidecar) read NULL for `extra`; post-ALTER inserts carry it
    assert(feed.count(_._1 == "delete") == 1)
    assert(feed.filter(t => t._2 < 20L).forall(_._3 == null),
      "pre-ALTER feed rows must read NULL for the added column")
    assert(feed.filter(t => t._2 >= 20L).forall(t => t._3 == s"x${t._2}"),
      "post-ALTER inserts must carry the new column")
    assert(feed.length == 12 + 1 + 4)
  }

  test("snapshot-seeded backfill: table_changes(from 0) across a PRE-enable rewrite serves the enable snapshot as inserts, then sidecars forward") {
    val dir = rewriting(freshDir("graft_cdf_seed"))
    append(dir, 0L until 20L)
    // PRE-enable rewrites: no sidecar exists for them, by design — one
    // copy-on-write (two keys; 100 holds no row), one deletion-vector
    // (the seed must serve the VECTOR-MERGED enable snapshot)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(3L, 100L))
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L))
    TokenRangeOps.enableChangeFeed(dir)
    val enableV = TokenRangeSource.versions(dir).last
    // post-enable history: an append and a recorded delete
    append(dir, 20L until 24L)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(11L))
    // from-0 backfill: the pre-enable delete would fail the walk — the
    // seed serves the ENABLE-version snapshot (18 rows, pk 3/7 gone) as
    // inserts stamped AT the enable version, then real changes forward
    val feed = feedBatch(dir)
      .select("_change_type", "_commit_version", "pk").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val seedRows = feed.filter(_._2 == enableV)
    assert(seedRows.length == 18 && seedRows.forall(_._1 == "insert"))
    assert(!seedRows.exists(t => t._3 == 3L || t._3 == 7L),
      "the seed is the enable-version STATE — pre-enable deletes folded in")
    assert(feed.count(t => t._1 == "delete" && t._3 == 11L) == 1)
    // feed fold reconstructs the current table exactly
    val state = scala.collection.mutable.Set.empty[Long]
    feed.sortBy(t => (t._2, if (t._1 == "delete") 0 else 1)).foreach {
      case ("insert", _, k) => state += k
      case ("delete", _, k) => state -= k
      case _ => ()
    }
    assert(state.toSeq.sorted == batchPks(dir),
      "seeded feed fold must reconstruct the table")
    // a range STRICTLY before the enable version keeps the loud refusal
    val ex = intercept[Exception] {
      spark.read.format(fmt).option("pk", "pk")
        .option("changeFeed", "true")
        .option("endingVersion", (enableV - 1).toString).load(dir).collect()
    }
    assert(ex.getMessage.contains("no recorded change sidecar"),
      s"pre-enable ranges must still refuse, got: ${ex.getMessage}")
  }

  test("a RATE-LIMITED from-zero CDF stream still seeds: the first batch reaches the enable version (review r16)") {
    val dir = rewriting(freshDir("graft_cdf_seedrl"))
    append(dir, 0L until 10L)
    // a rewrite (100 holds no row), unservable
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(2L, 100L))
    TokenRangeOps.enableChangeFeed(dir)
    append(dir, 10L until 12L)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = spark.readStream.format(fmt).option("pk", "pk")
      .option("changeFeed", "true")
      .option("maxVersionsPerTrigger", "1") // would cut the first batch below the enable version
      .load(dir)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.filter(col("_change_type") === "insert").select("pk").collect()
          .foreach(r => got.add(r.getLong(0)))
      }
      .option("checkpointLocation", freshDir("graft_cdf_seedrl_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val b = Seq.newBuilder[Long]; got.forEach(l => b += l.longValue)
    // the seed serves the enable snapshot (9 rows, pk=2 gone), the
    // post-enable append drains in a later (rate-limited) batch
    assert(b.result().sorted == ((0L until 12L).filterNot(_ == 2L)),
      s"rate-limited seeded stream must drain exactly the fold, got ${b.result().sorted}")
  }

  test("mid-history backfill: a range crossing a pre-enable rewrite serves a SYNTHESIZED REBASE (r17)") {
    val dir = rewriting(freshDir("graft_cdf_seedmid"))
    append(dir, 0L until 8L)
    val v1 = TokenRangeSource.versions(dir).last
    // a rewrite: 1000 holds no row
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(2L, 1000L))
    val vUnservable = TokenRangeSource.versions(dir).last
    append(dir, 100L until 102L)
    TokenRangeOps.enableChangeFeed(dir)
    val enableV = TokenRangeSource.versions(dir).last
    append(dir, 8L until 10L)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(5L)) // recorded (sidecar)
    // a consumer checkpointed at v1 (so it HOLDS state(v1) = pk 0..7)
    // crosses the unservable pre-enable delete. r16 refused; the rebase
    // serves: state(v1) as synthesized DELETES + state(enableV) as
    // synthesized INSERTS, both stamped at the enable version, then the
    // recorded changes forward — the one encoding that is exact without
    // knowing the unservable version's row diff.
    val feed = spark.read.format(fmt).option("pk", "pk")
      .option("changeFeed", "true")
      .option("startingVersion", (v1 + 1).toString).load(dir)
      .select("_change_type", "_commit_version", "pk").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val rebase = feed.filter(_._2 == enableV)
    assert(rebase.count(_._1 == "delete") == 8,
      s"state(v1) must serve as deletes, got ${rebase.toSeq}")
    assert(rebase.count(_._1 == "insert") == 9,
      "state(enableV) must serve as inserts (pk=2 folded out, 100/101 in)")
    // fold from the checkpointed state reconstructs the current table
    val state = scala.collection.mutable.Set[Long](0L until 8L: _*)
    feed.sortBy(t => (t._2, if (t._1 == "delete") 0 else 1)).foreach {
      case ("delete", _, k) => state -= k
      case ("insert", _, k) => state += k
      case _ => ()
    }
    assert(state.toSeq.sorted == batchPks(dir),
      s"mid-history rebase fold must reconstruct the table, got ${state.toSeq.sorted}")
    // the refusal survives ONLY for ranges ending before the enable
    // version (the feed did not exist yet)
    val ex = intercept[Exception] {
      spark.read.format(fmt).option("pk", "pk")
        .option("changeFeed", "true")
        .option("startingVersion", (v1 + 1).toString)
        .option("endingVersion", vUnservable.toString).load(dir).collect()
    }
    assert(ex.getMessage.contains("no recorded change sidecar"))
  }

  test("rate limiter honors maxVersionsPerTrigger when NO seed fires (ADVICE r16)") {
    val dir = freshDir("graft_cdf_nolseed")
    // all-servable pre-enable history: appends only
    append(dir, 0L until 4L)
    append(dir, 4L until 8L)
    TokenRangeOps.enableChangeFeed(dir)
    append(dir, 8L until 12L)
    // from-zero feed with a 1-version cap: every version is servable, so
    // no seed fires and every micro-batch must hold exactly one version
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format(fmt).option("pk", "pk")
      .option("changeFeed", "true")
      .option("maxVersionsPerTrigger", "1")
      .load(dir)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.add(b.select("_commit_version").distinct().count()); ()
      }
      .option("checkpointLocation", freshDir("graft_cdf_nolseed_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val perBatch = Seq.newBuilder[Long]; batches.forEach(l => perBatch += l)
    assert(perBatch.result().forall(_ <= 1L),
      s"without a seed the cap must hold: versions per batch = ${perBatch.result()}")
  }

  test("a fresh stream honors startingVersion (the Kafka startingOffsets analog)") {
    val dir = freshDir("graft_cdf_sv")
    append(dir, 0L until 10L)
    val vAfterFirst = TokenRangeSource.versions(dir).last
    append(dir, 10L until 16L)
    // fresh checkpoint + startingVersion AFTER the first commit: only
    // the second append drains; the backfill is skipped by declaration
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = spark.readStream.format(fmt).option("pk", "pk")
      .option("startingVersion", (vAfterFirst + 1).toString).load(dir)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("pk").collect().foreach(r => got.add(r.getLong(0)))
      }
      .option("checkpointLocation", freshDir("graft_cdf_sv_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val b = Seq.newBuilder[Long]; got.forEach(l => b += l.longValue)
    assert(b.result().sorted == (10L until 16L))
  }

  test("the streaming feed recovers across restarts at version grain") {
    val dir = freshDir("graft_cdf_restart")
    val ckpt = freshDir("graft_cdf_restart_ck")
    append(dir, 0L until 8L)
    TokenRangeOps.enableChangeFeed(dir)
    assert(drainFeed(dir, ckpt).count(_._1 == "insert") == 8)
    // stop; a delete and an append land; resume on the same checkpoint
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(0L, 1L))
    append(dir, 8L until 12L)
    val round2 = drainFeed(dir, ckpt)
    assert(round2.count(_._1 == "delete") == 2)
    assert(round2.count(_._1 == "insert") == 4)
    assert(round2.size == 6, s"nothing may double: $round2")
    assert(drainFeed(dir, ckpt).isEmpty)
  }
}
