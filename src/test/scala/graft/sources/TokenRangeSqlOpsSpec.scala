package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SQL time travel (`VERSION AS OF` / `TIMESTAMP AS OF` through the
  * catalog's loadTable overloads) and the maintenance-procedure surface
  * (`CALL cat.system.<proc>(…)` — the nodetool/OPTIMIZE analog routed to
  * the TokenRangeOps primitives). */
class TokenRangeSqlOpsSpec extends SparkSpec {

  private def freshCat(tag: String): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft_sqlops_$tag").toString
    val cat = s"graft_sqlops_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[TokenRangeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ks")
    (cat, wh)
  }

  test("insert='upsert': SQL INSERT replaces by key — CQL's INSERT semantic (r17)") {
    val (cat, wh) = freshCat("insup")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING)
      TBLPROPERTIES('pk'='pk', 'insert'='upsert')""")
    val path = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    TokenRangeOps.enableChangeFeed(path)
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) FROM range(0, 16)")
    val before = TokenRangeOps.liveFiles(path).toSet
    // the second INSERT overlaps keys 8..15: CQL semantics = replaced
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('b', id) FROM range(8, 24)")
    val after = TokenRangeOps.liveFiles(path).toSet
    assert(before.subsetOf(after),
      "insert-upsert is a BLIND write: no pre-existing file is read, " +
        "rewritten or retired — old generations are vector-suppressed")
    assert(TokenRangeSource.dvBindings(path).nonEmpty,
      "the overlapping keys' files must carry a key vector")
    val t = spark.sql(s"SELECT pk, v FROM $cat.ks.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(t.size == 24, s"no key may duplicate, got ${t.size}")
    assert(t(3L) == "a3" && t(8L) == "b8" && t(15L) == "b15" && t(23L) == "b23")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ks.t").head().getLong(0) == 24L)
    // the change feed records TRUE update images for the replaced keys
    val feed = spark.sql(s"SELECT _change_type, pk, v FROM $cat.ks.`t$$changes`")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(feed.count(x => x._1 == "update_preimage" && x._2 == 8L && x._3 == "a8") == 1)
    assert(feed.count(x => x._1 == "update_postimage" && x._2 == 8L && x._3 == "b8") == 1)
    assert(feed.count(x => x._1 == "insert" && x._2 == 23L) == 1)
    // compaction applies the generations physically; result unchanged
    TokenRangeOps.compact(spark, path, "pk")
    assert(TokenRangeSource.dvBindings(path).isEmpty)
    assert(spark.sql(s"SELECT v FROM $cat.ks.t WHERE pk = 9").head().getString(0) == "b9")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ks.t").head().getLong(0) == 24L)
    // a DISJOINT insert stays a plain append (no vector, no read)
    val b2 = TokenRangeOps.liveFiles(path).toSet
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('c', id) FROM range(100, 104)")
    assert(TokenRangeSource.dvBindings(path).isEmpty,
      "disjoint keys need no vector — the append is already exact")
    assert(b2.subsetOf(TokenRangeOps.liveFiles(path).toSet))
    // refusal: unknown modes (the r17 clustered refusal is gone — r18's
    // tuple-grain vector serves clustered tables, tested below)
    val ex2 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.ks.bad2 (pk BIGINT, v STRING)
        TBLPROPERTIES('pk'='pk', 'insert'='wat')""")
    }
    assert(ex2.getMessage.contains("'upsert'"), ex2.getMessage)
  }

  test("insert='upsert' on a CLUSTERED table: (pk, ck)-grain replacement + " +
      "intra-batch LWW (r18)") {
    val (cat, wh) = freshCat("insupck")
    spark.sql(s"""CREATE TABLE $cat.ks.msgs
      (channel BIGINT, msg BIGINT, body STRING)
      TBLPROPERTIES('pk'='channel', 'ck'='msg', 'insert'='upsert')""")
    val path = new java.io.File(new java.io.File(wh, "ks"), "msgs")
      .getAbsolutePath
    TokenRangeOps.enableChangeFeed(path)
    // 4 channels × 6 messages
    spark.sql(s"INSERT INTO $cat.ks.msgs " +
      "SELECT id % 4, id DIV 4, concat('v1-', id % 4, '-', id DIV 4) " +
      "FROM range(0, 24)")
    val before = TokenRangeOps.liveFiles(path).toSet
    // re-delivered write: channel 1's messages 0..2 replaced — CQL
    // upserts by (channel, msg); the OTHER messages of channel 1 and
    // every other channel must survive untouched
    spark.sql(s"INSERT INTO $cat.ks.msgs " +
      "SELECT 1, id, concat('v2-1-', id) FROM range(0, 3)")
    val after = TokenRangeOps.liveFiles(path).toSet
    assert(before.subsetOf(after),
      "clustered insert-upsert is a BLIND write: nothing rewritten")
    assert(TokenRangeSource.dvBindings(path).nonEmpty)
    val t = spark.sql(s"SELECT channel, msg, body FROM $cat.ks.msgs").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(t.size == 24, s"no (pk, ck) may duplicate, got ${t.size}")
    assert(t((1L, 0L)) == "v2-1-0" && t((1L, 2L)) == "v2-1-2")
    assert(t((1L, 3L)) == "v1-1-3", "ck siblings of replaced rows survive")
    assert(t((0L, 0L)) == "v1-0-0" && t((3L, 5L)) == "v1-3-5")
    // the change feed records TRUE (pk, ck)-grain update images
    val feed = spark.sql(
      s"SELECT _change_type, channel, msg, body FROM $cat.ks.`msgs$$changes`")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(feed.count(x =>
      x._1 == "update_preimage" && x._2 == 1L && x._3 == 1L &&
        x._4 == "v1-1-1") == 1)
    assert(feed.count(x =>
      x._1 == "update_postimage" && x._2 == 1L && x._3 == 1L &&
        x._4 == "v2-1-1") == 1)
    assert(!feed.exists(x => x._1 == "update_preimage" && x._3 == 3L),
      "a surviving ck sibling must not be imaged")
    // INTRA-BATCH duplicates (ADVICE r17): one statement inserting the
    // same (pk, ck) twice keeps exactly ONE row — the losers are
    // position-vectored in the statement's own files, still blind
    val b2 = TokenRangeOps.liveFiles(path).toSet
    spark.sql(s"INSERT INTO $cat.ks.msgs VALUES " +
      "(7, 100, 'dup-a'), (7, 100, 'dup-b'), (7, 101, 'only')")
    assert(b2.subsetOf(TokenRangeOps.liveFiles(path).toSet))
    val dup = spark.sql(
      s"SELECT body FROM $cat.ks.msgs WHERE channel = 7 AND msg = 100")
      .collect().map(_.getString(0))
    assert(dup.length == 1, s"intra-batch LWW keeps one row, got ${dup.length}")
    assert(spark.sql(s"SELECT body FROM $cat.ks.msgs " +
      "WHERE channel = 7 AND msg = 101").count() == 1)
    // identity-less rows: a NULL ck has no replacement identity (CQL
    // refuses null clustering keys outright; graft stores the rows) —
    // they blind-append, never replace, never dedupe, never crash a
    // later read through the vector merge
    spark.sql(s"INSERT INTO $cat.ks.msgs VALUES " +
      "(7, NULL, 'null-a'), (7, NULL, 'null-b')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ks.msgs " +
      "WHERE channel = 7 AND msg IS NULL").head().getLong(0) == 2L)
    assert(spark.sql(s"SELECT body FROM $cat.ks.msgs " +
      "WHERE channel = 7 AND msg = 100").count() == 1)
    // compaction applies generations physically; results unchanged
    TokenRangeOps.compact(spark, path, "channel")
    assert(TokenRangeSource.dvBindings(path).isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ks.msgs").head().getLong(0)
      == 28L)
    assert(spark.sql(s"SELECT body FROM $cat.ks.msgs " +
      "WHERE channel = 1 AND msg = 2").head().getString(0) == "v2-1-2")
  }

  test("insert='upsert' statement-size fallback: oversized batches " +
      "complete copy-on-write, not as a data-sized vector (r18)") {
    val (cat, wh) = freshCat("insupcow")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING)
      TBLPROPERTIES('pk'='pk', 'insert'='upsert', 'dml.fallback_rows'='8')""")
    val path = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    TokenRangeOps.enableChangeFeed(path)
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) FROM range(0, 16)")
    val before = TokenRangeOps.liveFiles(path).toSet
    // 12 distinct keys > the 8-key bound: the SAME statement completes
    // as a copy-on-write replace-by-key — affected files RETIRE (not
    // vector-bound), and no key vector publishes
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('b', id) FROM range(4, 16)")
    val after = TokenRangeOps.liveFiles(path).toSet
    assert(!before.subsetOf(after),
      "an oversized upsert must RETIRE the affected files (cow), not " +
        "blind-append beside them")
    assert(TokenRangeSource.dvBindings(path).isEmpty,
      "the cow completion publishes no vector")
    val t = spark.sql(s"SELECT pk, v FROM $cat.ks.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(t.size == 16, s"no key may duplicate, got ${t.size}")
    assert(t(2L) == "a2" && t(4L) == "b4" && t(15L) == "b15")
    // the feed still records TRUE update images through the fallback
    val feed = spark.sql(s"SELECT _change_type, pk, v FROM $cat.ks.`t$$changes`")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(feed.count(x => x._1 == "update_preimage" && x._2 == 4L && x._3 == "a4") == 1)
    assert(feed.count(x => x._1 == "update_postimage" && x._2 == 4L && x._3 == "b4") == 1)
    // intra-batch duplicates still LWW-dedupe through the cow path
    spark.sql(s"INSERT INTO $cat.ks.t " +
      "SELECT id % 10 + 100, concat('c', id % 10) FROM range(0, 20)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ks.t WHERE pk >= 100")
      .head().getLong(0) == 10L)
    // small statements keep the blind vector path
    val b2 = TokenRangeOps.liveFiles(path).toSet
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('d', id) FROM range(0, 3)")
    assert(b2.subsetOf(TokenRangeOps.liveFiles(path).toSet),
      "a small upsert stays a blind write")
    assert(TokenRangeSource.dvBindings(path).nonEmpty)
    assert(spark.sql(s"SELECT v FROM $cat.ks.t WHERE pk = 1").head().getString(0)
      == "d1")
  }

  test("multi-clustering-key tables: PRIMARY KEY ((a), b, c) — full " +
      "lexicographic slab sort + component slice prune (r18)") {
    val (cat, wh) = freshCat("mck")
    // CLUSTERING ORDER BY (b ASC, c DESC) — the reference's own DESC
    // shape on the second component
    spark.sql(s"""CREATE TABLE $cat.ks.t (a BIGINT, b BIGINT, c BIGINT, v STRING)
      TBLPROPERTIES('pk'='a', 'ck'='b ASC, c DESC')""")
    spark.sql(s"INSERT INTO $cat.ks.t " +
      "SELECT id % 2, (id DIV 2) % 5, id, concat('v', id) FROM range(0, 40)")
    val path = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    // every bucket FILE is sorted lexicographically by (b ASC, c DESC)
    graft.sources.connector.TokenRangeOps.liveFiles(path).foreach { rel =>
      val f = new java.io.File(path, rel).getAbsolutePath
      val rows = spark.read.parquet(f).select("b", "c").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val expected = rows.sortBy { case (b, c) => (b, -c) }.toSeq
      assert(rows.toSeq == expected, s"file $f must be (b ASC, c DESC)-sorted")
    }
    // reads honor the tuple identity: slices on the SECOND component
    // compose with leader equality
    val got = spark.sql(s"SELECT c FROM $cat.ks.t " +
      "WHERE a = 1 AND b = 2 AND c >= 20 AND c < 30 ORDER BY c").collect()
      .map(_.getLong(0))
    val want = (0L until 40L).filter(id => id % 2 == 1 && (id / 2) % 5 == 2)
      .filter(c => c >= 20 && c < 30).sorted
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
    // slab layout: two time-correlated loads → a leader range prunes files
    spark.sql(s"""CREATE TABLE $cat.ks.slab (a BIGINT, b BIGINT, c BIGINT)
      TBLPROPERTIES('pk'='a', 'ck'='b, c')""")
    spark.sql(s"INSERT INTO $cat.ks.slab SELECT 1, id, id FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.ks.slab SELECT 1, id, id FROM range(100, 200)")
    val probe = spark.sql(s"SELECT * FROM $cat.ks.slab WHERE a = 1 AND b < 50")
    val plan = probe.queryExecution.executedPlan.toString()
    val pruned = "PrunedFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(pruned.isDefined &&
      pruned.get.group(1).toInt < pruned.get.group(2).toInt,
      s"leader-range slice must prune slab files: ${plan.take(300)}")
    assert(probe.count() == 50L)
  }

  test("compact.files_per_bucket: fragmentation auto-compaction folds hot " +
      "buckets only (r18)") {
    val (cat, wh) = freshCat("frag")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING)
      TBLPROPERTIES('pk'='pk', 'compact.files_per_bucket'='4')""")
    val path = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    def byBucket(): Map[String, Set[String]] =
      TokenRangeOps.liveFiles(path).toSet.groupBy(f =>
        new java.io.File(f).getParentFile.getName)
    // cold keys land once each; the hot key appends one file per statement
    spark.sql(s"INSERT INTO $cat.ks.t VALUES (100, 'c1'), (200, 'c2'), (300, 'c3')")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO $cat.ks.t VALUES (1, 'h$i')"))
    val before = byBucket()
    assert(before.values.forall(_.size < 4), "below threshold: no fold yet")
    // the 4th hot append crosses the bound — the statement's tail folds
    // exactly the hot bucket; cold buckets survive BY REFERENCE
    spark.sql(s"INSERT INTO $cat.ks.t VALUES (1, 'h4')")
    val after = byBucket()
    assert(after.values.forall(_.size < 4),
      s"the hot bucket must fold below the bound, got ${after.view.mapValues(_.size).toMap}")
    before.filter(_._2.size < 3).foreach { case (b, fs) =>
      assert(after(b) == fs, s"cold bucket $b must survive by reference")
    }
    // reads identical: every appended row visible exactly once
    val vs = spark.sql(s"SELECT v FROM $cat.ks.t").collect()
      .map(_.getString(0)).sorted
    assert(vs.toSeq == Seq("c1", "c2", "c3", "h1", "h2", "h3", "h4"))
    // the fold is #op compact: CDC-transparent (feed-wise a no-op) and
    // visible in t$history
    val ops = spark.sql(s"SELECT op FROM $cat.ks.`t$$history`").collect()
      .map(_.getString(0))
    assert(ops.contains("compact"))
    // opt-out: 0 disables; bad bounds refused
    spark.sql(s"CALL $cat.system.set_file_compaction('ks.t', 0)")
    (1 to 5).foreach(i => spark.sql(s"INSERT INTO $cat.ks.t VALUES (2, 'x$i')"))
    assert(byBucket().values.exists(_.size >= 4),
      "a disabled sweep must let files accumulate")
    val ex = intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.ks.bad (pk BIGINT, v STRING)
        TBLPROPERTIES('pk'='pk', 'compact.files_per_bucket'='1')""")
    }
    assert(ex.getMessage.contains(">= 2"), ex.getMessage)
  }

  test("`t$files` metadata table: file-grain triage through plain SQL (r18)") {
    val (cat, wh) = freshCat("files")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, ck BIGINT, v STRING)
      TBLPROPERTIES('pk'='pk', 'ck'='ck')""")
    spark.sql(s"INSERT INTO $cat.ks.t " +
      "SELECT id % 3, id, concat('a', id) FROM range(0, 30)")
    spark.sql(s"INSERT INTO $cat.ks.t " +
      "SELECT id % 3, id, concat('b', id) FROM range(30, 60)")
    spark.sql(s"DELETE FROM $cat.ks.t WHERE pk = 1 AND ck = 4") // vector
    val rows = spark.sql(s"SELECT * FROM $cat.ks.`t$$files`").collect()
    val path = new java.io.File(new java.io.File(wh, "ks"), "t")
      .getAbsolutePath
    val live = TokenRangeOps.liveFiles(path)
    assert(rows.length == live.size, s"one row per live file")
    assert(rows.map(_.getAs[String]("file")).toSet
      == live.map(f => f.split('/').takeRight(2).mkString("/")).toSet)
    // census arithmetic: rows sum to STORED rows (vector-suppressed rows
    // still stored), bytes positive, ck min/max cover the ingest domain
    assert(rows.map(_.getAs[Long]("rows")).sum == 60L)
    assert(rows.forall(_.getAs[Long]("bytes") > 0L))
    assert(rows.forall(r => r.getAs[String]("pk_min").toLong >= 0L &&
      r.getAs[String]("pk_max").toLong <= 2L))
    assert(rows.map(_.getAs[String]("ck_min").toLong).min == 0L)
    assert(rows.map(_.getAs[String]("ck_max").toLong).max == 59L)
    // exactly the deleted row's file carries the one live binding
    assert(rows.map(_.getAs[Int]("deletion_vectors")).sum == 1)
    // added_version distinguishes the two ingest tranches
    assert(rows.map(_.getAs[Int]("added_version")).distinct.sorted.size >= 2)
    // file-grain SQL triage, the use case: vector debt per bucket
    val debt = spark.sql(s"SELECT bucket, sum(deletion_vectors) AS d " +
      s"FROM $cat.ks.`t$$files` GROUP BY bucket ORDER BY d DESC").collect()
    assert(debt.map(_.getAs[Long]("d")).sum == 1L)
    // `t$partitions` is exactly that rollup, served directly (r18)
    val parts = spark.sql(s"SELECT * FROM $cat.ks.`t$$partitions`").collect()
    assert(parts.map(_.getAs[Long]("rows")).sum == 60L)
    assert(parts.map(_.getAs[Int]("n_files")).sum == rows.length)
    assert(parts.map(_.getAs[Int]("deletion_vectors")).sum == 1)
    assert(parts.map(_.getAs[Int]("bucket")).toSet
      == rows.map(_.getAs[Int]("bucket")).toSet)
  }

  test("`t$history` metadata table: DESCRIBE HISTORY by name through plain SQL (r17)") {
    val (cat, wh) = freshCat("hist")
    spark.sql(s"CREATE TABLE $cat.ks.t (pk BIGINT, v STRING) " +
      "TBLPROPERTIES('pk'='pk')")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) FROM range(0, 16)")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('b', id) FROM range(16, 24)")
    spark.sql(s"DELETE FROM $cat.ks.t WHERE v = 'a3'") // position vector
    val path = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    TokenRangeOps.compact(spark, path, "pk")
    val h = spark.sql(
      s"SELECT version, n_files, op, deletion_vectors " +
        s"FROM $cat.ks.`t$$history` ORDER BY version").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(h.map(_._1).toSeq == TokenRangeSource.versions(path),
      s"one row per retained version, got ${h.toSeq}")
    // the log ends (…appends, delete, compact); any bootstrap version
    // before the loads is an (empty) append
    assert(h.map(_._3).takeRight(2).toSeq == Seq("delete", "compact") &&
      h.map(_._3).dropRight(2).forall(_ == "append"),
      s"op kinds must match the commit log, got ${h.map(_._3).toSeq}")
    // the vector delete's version carries its binding census; the
    // compacted head is debt-free and merges the history's net content
    val del = h(h.length - 2); val cmp = h.last
    assert(del._4 >= 1 && cmp._4 == 0, h.toSeq.toString)
    assert(cmp._2 >= 1 && del._2 >= cmp._2,
      "compaction folds files; counts are per-version censuses")
    // committed_at is a real timestamp, non-decreasing with version
    val ts = spark.sql(s"SELECT committed_at FROM $cat.ks.`t$$history` " +
      "ORDER BY version").collect().map(_.getTimestamp(0).getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    // read-only + shadowing contract: the suffix form resolves only
    // while no real table owns the name
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.ks.`t$$history` VALUES (1, now(), 1, 'x', 0)")
    }
    assert(ex.getMessage != null)
  }

  test("VERSION AS OF / TIMESTAMP AS OF serve the pinned file list and the pinned schema") {
    val (cat, wh) = freshCat("tt")
    spark.sql(s"CREATE TABLE $cat.ks.t (pk BIGINT, v STRING) " +
      "TBLPROPERTIES('pk'='pk')")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) FROM range(0, 10)")
    val path = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    val vAfterFirst = TokenRangeSource.versions(path).last
    val tAfterFirst = System.currentTimeMillis()
    Thread.sleep(20)
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) FROM range(10, 25)")
    spark.sql(s"ALTER TABLE $cat.ks.t ADD COLUMNS (extra STRING)")
    // current view: 25 rows, 3 columns
    assert(spark.sql(s"SELECT * FROM $cat.ks.t").columns.length == 3)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ks.t").head.getLong(0) == 25)
    // VERSION AS OF: the first commit's rows AND its pre-ALTER schema
    val pinned = spark.sql(s"SELECT * FROM $cat.ks.t VERSION AS OF $vAfterFirst")
    assert(pinned.columns.toSeq == Seq("pk", "v"),
      "the pin serves that version's OWN schema")
    assert(pinned.count() == 10)
    // TIMESTAMP AS OF resolves through the manifest mtimes
    val ts = spark.sql(
      s"SELECT COUNT(*) FROM $cat.ks.t TIMESTAMP AS OF " +
        s"timestamp_millis(${tAfterFirst})")
    assert(ts.head.getLong(0) == 10)
    // a version number beyond history refuses loudly
    assert(intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.ks.t VERSION AS OF 9999").collect()
    }.getMessage.contains("no version"))
  }

  test("CALL system.compact / set_retention / vacuum: maintenance through SQL") {
    val (cat, wh) = freshCat("proc")
    spark.sql(s"CREATE TABLE $cat.ks.t (pk BIGINT, v STRING) " +
      "TBLPROPERTIES('pk'='pk')")
    (0 until 4).foreach { r =>
      spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) " +
        s"FROM range(${r * 10}, ${(r + 1) * 10})")
    }
    val path = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    val filesBefore = TokenRangeSource.visibleRelFiles(path, None).size
    spark.sql(s"CALL $cat.system.compact('ks.t')")
    val byBucket = TokenRangeSource.visibleRelFiles(path, None)
      .groupBy(_._1).view.mapValues(_.size)
    assert(byBucket.values.forall(_ == 1),
      s"one file per bucket after CALL compact (before: $filesBefore)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ks.t").head.getLong(0) == 40)
    // retention + vacuum through CALL
    spark.sql(s"CALL $cat.system.set_retention('ks.t', 2)")
    assert(TokenRangeOps.describeTable(path)("retention") == "2")
    val cur = TokenRangeSource.versions(path).last
    spark.sql(s"CALL $cat.system.vacuum('ks.t', ${cur})")
    assert(TokenRangeSource.versions(path) == Seq(cur),
      "vacuum through CALL retires history below retain_from")
    // unknown procedure refuses (Spark wraps it as FAILED_TO_LOAD_ROUTINE;
    // the cause carries the available list)
    val ex = intercept[Exception] { spark.sql(s"CALL $cat.system.nope('ks.t')") }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(ex).exists(m =>
      m.contains("compact") || m.contains("FAILED_TO_LOAD_ROUTINE")))
  }

  test("CALL system.expire and enable_change_feed compose: expiry records its deletes") {
    val s2 = spark; import s2.implicits._
    val (cat, wh) = freshCat("exp")
    spark.sql(s"CREATE TABLE $cat.ks.ev (pk BIGINT, ts TIMESTAMP, v STRING) " +
      "TBLPROPERTIES('pk'='pk')")
    spark.sql(s"""INSERT INTO $cat.ks.ev
      SELECT id, timestamp_micros(CAST(id * 1000000 AS BIGINT)),
             concat('e', id) FROM range(0, 20)""")
    spark.sql(s"CALL $cat.system.enable_change_feed('ks.ev')")
    spark.sql(s"CALL $cat.system.expire('ks.ev', 'ts', ${10L * 1000000})")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ks.ev").head.getLong(0) == 9,
      "ids 0..10 expire (ts <= cutoff), 11..19 stay")
    val path = new java.io.File(new java.io.File(wh, "ks"), "ev").getAbsolutePath
    val feed = spark.read
      .format(classOf[TokenRangeSource].getName)
      .option("pk", "pk").option("changeFeed", "true").load(path)
      .filter(col("_change_type") === "delete")
    assert(feed.count() == 11, "the expiry recorded its deleted rows")
  }
}
