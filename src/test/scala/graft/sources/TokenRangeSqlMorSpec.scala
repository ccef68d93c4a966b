package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SQL MERGE-ON-READ DML (r16, position grain r17): every table routes
  * UPDATE / MERGE / predicate-DELETE through `SupportsDelta` — matched
  * rows arrive row-classified, removals publish as a POSITION deletion
  * vector (`_file` + `_pos`) bound to exactly the files that held them,
  * new images append.
  * Load-bearing claims:
  *   - a small SQL DELETE/UPDATE writes NO rewrite: every pre-existing
  *     data file survives by identity (UPDATE appends only its images);
  *   - results are exactly the results of the copy-on-write completion
  *     a `dml.fallback_rows` bound of 1 forces;
  *   - pk-changing UPDATEs move the row identity correctly;
  *   - MERGE classifies matched updates and unmatched inserts;
  *   - with the change feed on, the statement records TRUE update
  *     images;
  *   - compaction applies the accumulated vectors physically;
  *   - CLUSTERED tables take the same path (r17): deleting/patching one
  *     ck row leaves its pk siblings intact AND rewrites nothing —
  *     the reference's own messages-table shape (server.py:176-183);
  *   - duplicate-pk rows are handled EXACTLY (r17, the r16 pk-grain
  *     obligation dissolved): a predicate DML removes only the stored
  *     rows it matched, never unmatched siblings of the same pk. */
class TokenRangeSqlMorSpec extends SparkSpec {

  private def freshCat(tag: String): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft_mor_$tag").toString
    val cat = s"graft_mor_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[TokenRangeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ks")
    (cat, wh)
  }

  private def tablePath(wh: String, name: String): String =
    new java.io.File(new java.io.File(wh, "ks"), name).getAbsolutePath

  private def liveRel(path: String): Set[String] =
    TokenRangeOps.liveFiles(path).toSet

  test("mor UPDATE/DELETE write no rewrite: pre-existing files survive by identity") {
    val (cat, wh) = freshCat("ident")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING, n BIGINT)
      TBLPROPERTIES('pk'='pk')""")
    (0 until 4).foreach { r =>
      spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id), id " +
        s"FROM range(${r * 32}, ${(r + 1) * 32})")
    }
    val path = tablePath(wh, "t")
    val before = liveRel(path)
    spark.sql(s"UPDATE $cat.ks.t SET n = -1 WHERE v = 'a100'")
    val afterUpd = liveRel(path)
    assert(before.subsetOf(afterUpd),
      "mor UPDATE must retire nothing — the old image is vector-suppressed")
    assert((afterUpd -- before).nonEmpty, "the new image appends")
    spark.sql(s"DELETE FROM $cat.ks.t WHERE n = 77")
    val afterDel = liveRel(path)
    assert(afterDel == afterUpd,
      "mor DELETE must neither add nor retire any data file")
    assert(TokenRangeSource.dvBindings(path).nonEmpty)
    val t = spark.sql(s"SELECT * FROM $cat.ks.t").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(t.size == 127 && t(100L) == -1L && !t.contains(77L) && t(99L) == 99L)
  }

  test("mor statements are result-equal to copy-on-write statements") {
    val (cat, wh) = freshCat("eq")
    // 'c': every statement below matches more than one row, so a bound of
    // 1 completes each of them as a copy-on-write rewrite
    for (name <- Seq("m", "c")) {
      val prop = if (name == "c") ", 'dml.fallback_rows'='1'" else ""
      spark.sql(s"""CREATE TABLE $cat.ks.$name (pk BIGINT, v STRING, n BIGINT)
        TBLPROPERTIES('pk'='pk'$prop)""")
      spark.sql(s"INSERT INTO $cat.ks.$name SELECT id, concat('a', id), id " +
        "FROM range(0, 64)")
      spark.sql(s"UPDATE $cat.ks.$name SET v = 'patched', n = n * 2 WHERE pk % 7 = 0")
      spark.sql(s"DELETE FROM $cat.ks.$name WHERE n >= 100")
      spark.sql(s"""MERGE INTO $cat.ks.$name AS t
        USING (SELECT id AS pk, concat('m', id) AS v, id * 100 AS n
               FROM range(40, 70)) AS s
        ON t.pk = s.pk
        WHEN MATCHED THEN UPDATE SET t.v = s.v, t.n = s.n
        WHEN NOT MATCHED THEN INSERT (pk, v, n) VALUES (s.pk, s.v, s.n)""")
    }
    val m = spark.sql(s"SELECT * FROM $cat.ks.m ORDER BY pk").collect().map(_.toSeq)
    val c = spark.sql(s"SELECT * FROM $cat.ks.c ORDER BY pk").collect().map(_.toSeq)
    assert(m.length == 70, s"unexpected row count ${m.length}")
    assert(m.toSeq == c.toSeq, "merge-on-read must equal copy-on-write")
    assert(TokenRangeSource.dvBindings(tablePath(wh, "m")).nonEmpty)
    assert(TokenRangeSource.dvBindings(tablePath(wh, "c")).isEmpty,
      "the forced fallback must publish no vector")
    // and the mor table never rewrote: its original files are all live
    assert(TokenRangeOps.liveFiles(tablePath(wh, "m")).size
      > TokenRangeOps.liveFiles(tablePath(wh, "c")).size,
      "the mor table accumulates generations; cow rewrites them")
  }

  test("pk-changing UPDATE moves the row identity (tombstone old, append new)") {
    val (cat, _) = freshCat("pkmove")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING)
      TBLPROPERTIES('pk'='pk')""")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) FROM range(0, 10)")
    spark.sql(s"UPDATE $cat.ks.t SET pk = 1000 WHERE pk = 3")
    val keys = spark.sql(s"SELECT pk FROM $cat.ks.t").collect()
      .map(_.getLong(0)).toSet
    assert(!keys(3L) && keys(1000L) && keys.size == 10)
    assert(spark.sql(s"SELECT v FROM $cat.ks.t WHERE pk = 1000")
      .head().getString(0) == "a3")
  }

  test("mor DML records TRUE update images on a feed table; compact applies the vectors") {
    val (cat, wh) = freshCat("cdf")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING)
      TBLPROPERTIES('pk'='pk')""")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) FROM range(0, 16)")
    val path = tablePath(wh, "t")
    TokenRangeOps.enableChangeFeed(path)
    spark.sql(s"UPDATE $cat.ks.t SET v = 'new5' WHERE pk = 5")
    spark.sql(s"DELETE FROM $cat.ks.t WHERE v = 'a9'")
    // a value-preserving UPDATE still records its image pair (Delta's CDF)
    spark.sql(s"UPDATE $cat.ks.t SET v = v WHERE pk = 2")
    val feed = spark.sql(s"SELECT _change_type, pk, v FROM $cat.ks.`t$$changes`")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(feed.count(t => t._1 == "update_preimage" && t._2 == 5L && t._3 == "a5") == 1)
    assert(feed.count(t => t._1 == "update_postimage" && t._2 == 5L && t._3 == "new5") == 1)
    assert(feed.count(t => t._1.startsWith("update_") && t._2 == 2L && t._3 == "a2") == 2)
    assert(feed.count(t => t._1 == "delete" && t._2 == 9L) == 1)
    // compaction applies the accumulated vectors and drops the bindings
    TokenRangeOps.compact(spark, path, "pk")
    assert(TokenRangeSource.dvBindings(path).isEmpty)
    val t = spark.sql(s"SELECT pk, v FROM $cat.ks.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(t.size == 15 && t(5L) == "new5" && !t.contains(9L))
  }

  test("clustered mor: ck siblings survive a one-row DELETE/UPDATE, nothing rewrites") {
    val (cat, wh) = freshCat("ck")
    // the reference's messages shape: PRIMARY KEY (channel_id, message_id)
    spark.sql(s"""CREATE TABLE $cat.ks.msgs
      (channel_id BIGINT, message_id BIGINT, body STRING)
      TBLPROPERTIES('pk'='channel_id', 'ck'='message_id')""")
    spark.sql(s"INSERT INTO $cat.ks.msgs SELECT id % 8, id, concat('m', id) " +
      "FROM range(0, 64)")
    val path = tablePath(wh, "msgs")
    val before = liveRel(path)
    // delete ONE message of a hot channel
    spark.sql(s"DELETE FROM $cat.ks.msgs WHERE channel_id = 3 AND message_id = 19")
    // edit ONE message of the same channel
    spark.sql(s"UPDATE $cat.ks.msgs SET body = 'edited' " +
      "WHERE channel_id = 3 AND message_id = 27")
    val after = liveRel(path)
    assert(before.subsetOf(after),
      "clustered mor DML must retire nothing — the old rows are " +
        "vector-suppressed by position")
    assert(TokenRangeSource.dvBindings(path).nonEmpty)
    val ch3 = spark.sql(s"SELECT message_id, body FROM $cat.ks.msgs " +
      "WHERE channel_id = 3 ORDER BY message_id").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // channel 3 held message_ids 3, 11, 19, ..., 59 (8 rows): 19 deleted,
    // 27 edited, the other six siblings INTACT
    assert(ch3.length == 7, s"ck siblings must survive, got ${ch3.toSeq}")
    assert(!ch3.exists(_._1 == 19L))
    assert(ch3.find(_._1 == 27L).get._2 == "edited")
    assert(ch3.find(_._1 == 35L).get._2 == "m35")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ks.msgs").head().getLong(0) == 63L)
    // compaction applies the position vectors physically
    graft.sources.connector.TokenRangeOps.compact(spark, path, "channel_id")
    assert(TokenRangeSource.dvBindings(path).isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ks.msgs").head().getLong(0) == 63L)
    assert(spark.sql(s"SELECT body FROM $cat.ks.msgs " +
      "WHERE channel_id = 3 AND message_id = 27").head().getString(0) == "edited")
  }

  test("duplicate-pk rows: a predicate DML removes only the matched rows (position exactness)") {
    val (cat, wh) = freshCat("dup")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING)
      TBLPROPERTIES('pk'='pk')""")
    // blind appends create THREE rows of pk=1 with different payloads
    spark.sql(s"INSERT INTO $cat.ks.t VALUES (1, 'keep_a'), (2, 'x2')")
    spark.sql(s"INSERT INTO $cat.ks.t VALUES (1, 'drop_me'), (3, 'x3')")
    spark.sql(s"INSERT INTO $cat.ks.t VALUES (1, 'keep_b')")
    // the r16 pk-grain vector would have tombstoned ALL pk=1 rows here;
    // the position vector removes exactly the matched stored row
    spark.sql(s"DELETE FROM $cat.ks.t WHERE v = 'drop_me'")
    val vs = spark.sql(s"SELECT v FROM $cat.ks.t WHERE pk = 1 ORDER BY v")
      .collect().map(_.getString(0)).toSeq
    assert(vs == Seq("keep_a", "keep_b"),
      s"unmatched duplicate siblings must survive, got $vs")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ks.t").head().getLong(0) == 4L)
    // and an UPDATE matching one duplicate patches only it
    spark.sql(s"UPDATE $cat.ks.t SET v = 'patched' WHERE v = 'keep_b'")
    val vs2 = spark.sql(s"SELECT v FROM $cat.ks.t WHERE pk = 1 ORDER BY v")
      .collect().map(_.getString(0)).toSeq
    assert(vs2 == Seq("keep_a", "patched"), vs2.toString)
    assert(TokenRangeSource.dvBindings(tablePath(wh, "t")).nonEmpty)
  }

  test("bad fallback bounds are refused at CREATE") {
    val (cat, wh) = freshCat("refuse")
    val ex3 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.ks.bad3 (pk BIGINT, v STRING)
        TBLPROPERTIES('pk'='pk', 'dml.fallback_rows'='0')""")
    }
    assert(ex3.getMessage.contains("fallback_rows"), ex3.getMessage)
    // unknown keys are refused, not dropped: a stale 'dml' value, a
    // misspelt bound, and 'retention', which only ALTER sets
    Seq("'dml'='wat'" -> "unknown TBLPROPERTIES key 'dml'",
        "'dml.fallback_row'='5'" -> "unknown TBLPROPERTIES key 'dml.fallback_row'",
        "'compact.files_per_buckets'='4'" ->
          "unknown TBLPROPERTIES key 'compact.files_per_buckets'",
        "'retention'='3'" -> "ALTER TABLE").zipWithIndex.foreach {
      case ((prop, msg), i) =>
        val ex = intercept[Exception] {
          spark.sql(s"""CREATE TABLE $cat.ks.unknown$i (pk BIGINT, v STRING)
            TBLPROPERTIES('pk'='pk', $prop)""")
        }
        assert(ex.getMessage.contains(msg), ex.getMessage)
    }
    // a refused CREATE leaves no table behind; the known keys still pass
    assert(!new java.io.File(tablePath(wh, "unknown0")).exists)
    spark.sql(s"""CREATE TABLE $cat.ks.known (pk BIGINT, v STRING)
      TBLPROPERTIES('pk'='pk', 'dml.fallback_rows'='5',
        'compact.files_per_bucket'='4')""")
    assert(new java.io.File(tablePath(wh, "known")).exists)
  }

  test("bulk mor statements FALL BACK to copy-on-write inside the same statement") {
    val (cat, wh) = freshCat("fb")
    // tiny fallback bound so the test drives both sides of the routing
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING, n BIGINT)
      TBLPROPERTIES('pk'='pk', 'dml.fallback_rows'='16')""")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id), id " +
      "FROM range(0, 128)")
    val path = tablePath(wh, "t")
    val before = liveRel(path)
    // 8 matched rows <= 16: vector path (nothing retires)
    spark.sql(s"DELETE FROM $cat.ks.t WHERE pk < 8")
    assert(before.subsetOf(liveRel(path)))
    assert(TokenRangeSource.dvBindings(path).nonEmpty)
    // 64 matched rows > 16: the SAME statement shape completes via the
    // copy-on-write rewrite — touched files retire, no NEW vector binds
    val dvBefore = TokenRangeSource.dvBindings(path).map(_._2).toSet
    spark.sql(s"UPDATE $cat.ks.t SET n = -n WHERE pk >= 64")
    val dvAfter = TokenRangeSource.dvBindings(path).map(_._2).toSet
    assert((dvAfter -- dvBefore).isEmpty,
      "a fallback statement must publish NO new vector")
    assert((before -- liveRel(path)).nonEmpty,
      "the fallback rewrite must retire the touched files")
    // results equal the relational replay either way
    val got = spark.sql(s"SELECT pk, v, n FROM $cat.ks.t ORDER BY pk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = (8L until 128L).map(i =>
      (i, s"a$i", if (i >= 64) -i else i)).toSeq
    assert(got == want)
    // and the earlier vector's deletes survived the rewrite (the
    // fallback read is vector-merged at its pin)
    assert(!got.exists(_._1 < 8L))
  }

  test("fallback and vector paths record the SAME change-feed images") {
    val (cat, wh) = freshCat("fbcdf")
    for ((name, bound) <- Seq(("small", "1000"), ("big", "2"))) {
      spark.sql(s"""CREATE TABLE $cat.ks.$name (pk BIGINT, v STRING)
        TBLPROPERTIES('pk'='pk', 'dml.fallback_rows'='$bound')""")
      spark.sql(s"INSERT INTO $cat.ks.$name SELECT id, concat('a', id) " +
        "FROM range(0, 16)")
      TokenRangeOps.enableChangeFeed(tablePath(wh, name))
      // matches 4 rows: vector path on 'small', cow fallback on 'big'
      spark.sql(s"UPDATE $cat.ks.$name SET v = 'z' WHERE pk % 4 = 0")
    }
    def feed(name: String) = spark.sql(
      s"SELECT _change_type, pk, v FROM $cat.ks.`$name$$changes` " +
        "WHERE _change_type != 'insert' ORDER BY _change_type, pk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val s = feed("small"); val b = feed("big")
    assert(s == b, s"feeds must agree:\n vector: $s\n fallback: $b")
    assert(s.count(_._1 == "update_preimage") == 4)
    assert(s.count(_._1 == "update_postimage") == 4)
  }

  test("UPDATE and MERGE images are ck-sorted like every sink write: each live bucket file stays monotone") {
    val (cat, wh) = freshCat("ckorder")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, ck BIGINT, v STRING)
      TBLPROPERTIES('pk'='pk', 'ck'='ck DESC')""")
    // two appends into ONE bucket (one partition key) with interleaved ck
    // values: each file is ck-sorted, but a scan of the bucket reads the
    // even file's rows before the odd file's
    spark.sql(s"INSERT INTO $cat.ks.t SELECT 1, id * 2, 'e' FROM range(0, 16)")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT 1, id * 2 + 1, 'o' FROM range(0, 16)")
    val path = tablePath(wh, "t")
    val before = liveRel(path)
    // matches every row of both files, well under the fallback bound:
    // the images append as new files beside a vector
    spark.sql(s"UPDATE $cat.ks.t SET v = 'u' WHERE pk = 1")
    val after = liveRel(path)
    assert(before.subsetOf(after) && (after -- before).nonEmpty)
    def assertSorted(): Unit = liveRel(path).foreach { rel =>
      val cks = spark.read.parquet(new java.io.File(path, rel).getAbsolutePath)
        .select("ck").collect().map(_.getLong(0)).toSeq
      assert(cks == cks.sorted.reverse,
        s"$rel must be sorted by ck DESC, got ${cks.take(8)}...")
    }
    assertSorted()
    assert(spark.sql(s"SELECT ck FROM $cat.ks.t WHERE v = 'u'")
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 32L))
    // MERGE images (matched updates and inserts) take the same order
    spark.sql(s"""MERGE INTO $cat.ks.t AS t
      USING (SELECT 1L AS pk, id AS ck FROM range(16, 48)) AS s
      ON t.pk = s.pk AND t.ck = s.ck
      WHEN MATCHED THEN UPDATE SET t.v = 'm'
      WHEN NOT MATCHED THEN INSERT (pk, ck, v) VALUES (s.pk, s.ck, 'i')""")
    assertSorted()
    assert(spark.sql(s"SELECT count(*) FROM $cat.ks.t").head().getLong(0) == 48L)
  }
}
