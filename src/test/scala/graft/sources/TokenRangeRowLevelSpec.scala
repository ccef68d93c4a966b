package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SQL row-level DML through the DSv2 row-level surface (r15
  * continuation): `UPDATE`, `MERGE INTO`, and DELETE with a NON-KEY
  * predicate — the statements CQL serves as UPDATE/DELETE and the
  * lakehouse formats serve through SupportsRowLevelOperations. Every
  * statement takes the position-vector delta operation; above the
  * table's `dml.fallback_rows` bound it completes as a copy-on-write
  * rewrite of exactly the files holding its matched rows.
  * Load-bearing claims:
  *   - a small UPDATE / MERGE retires NO file: every pre-existing file
  *     survives BY IDENTITY, the vector binds exactly the file(s)
  *     holding the matched rows (small predicate DELETEs:
  *     TokenRangeSqlMorSpec);
  *   - the statement is exact: updated rows change, same-bucket
  *     bystanders and other-bucket rows don't;
  *   - the copy-on-write completion retires exactly the file holding
  *     the matched rows and loses no row, whatever the predicate names;
  *   - DELETE with a non-key predicate (refused by the metadata-only
  *     SupportsDelete path) takes the row-level path and works, here
  *     on its copy-on-write completion;
  *   - MERGE INTO classifies matched/not-matched correctly;
  *   - the plain CDC tail classifies these commits as content-changing
  *     (fails loudly), proving the `#op` kind is stamped. */
class TokenRangeRowLevelSpec extends SparkSpec {

  private def freshCat(tag: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft_rl_$tag").toString
    val cat = s"graft_rl_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[TokenRangeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ks")
    cat
  }

  private def tablePath(cat: String, name: String): String = {
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    new java.io.File(new java.io.File(wh, "ks"), name).getAbsolutePath
  }

  private def liveRel(path: String): Set[String] =
    TokenRangeSource.visibleRelFiles(path, None).map(_._2).toSet

  /** Four 32-row loads (one file set each) on a table whose fallback
    * bound of 1 completes every multi-row statement as copy-on-write,
    * plus the `v` values of two rows sharing one data file. */
  private def fallbackTable(cat: String): (String, Seq[String]) = {
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING, n BIGINT)
      TBLPROPERTIES('pk'='pk', 'dml.fallback_rows'='1')""")
    (0 until 4).foreach { r =>
      spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id), id " +
        s"FROM range(${r * 32}, ${(r + 1) * 32})")
    }
    val pair = spark.sql(s"SELECT _file, v FROM $cat.ks.t").collect()
      .groupBy(_.getString(0)).values.find(_.length >= 2).get
      .take(2).map(_.getString(1)).toSeq
    (tablePath(cat, "t"), pair)
  }

  test("SQL UPDATE retires no file: the vector binds only the file holding the row") {
    val cat = freshCat("upd")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING, n BIGINT)
      TBLPROPERTIES('pk'='pk')""")
    // many keys spread over buckets, several files (one insert per batch)
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id), id * 10 " +
      "FROM range(0, 64)")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id), id * 10 " +
      "FROM range(64, 128)")
    val path = tablePath(cat, "t")
    val before = liveRel(path)
    assert(before.size >= 2)
    val holder = spark.sql(s"SELECT _file FROM $cat.ks.t WHERE pk = 7")
      .head().getString(0)
    spark.sql(s"UPDATE $cat.ks.t SET v = 'patched', n = n + 1 WHERE pk = 7")
    val t = spark.sql(s"SELECT * FROM $cat.ks.t").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(t(7L) == (("patched", 71L)))
    assert(t(8L) == (("a8", 80L)) && t(127L) == (("a127", 1270L)))
    assert(t.size == 128)
    // file identity: every pre-existing file survives, the one new image
    // lands in pk=7's bucket and the vector binds only the holding file
    val after = liveRel(path)
    assert(before.subsetOf(after), s"${(before -- after).take(3)} vanished")
    val bucket7 = s"tb=${TokenLayout.bucketOfValue(7L)}"
    assert((after -- before).forall(_.startsWith(bucket7)))
    assert(TokenRangeSource.dvBindings(path).map(_._1).toSet == Set(holder))
  }

  test("copy-on-write completion: a non-key UPDATE rewrites only the file holding its matched rows") {
    val cat = freshCat("rgf")
    val (path, pair) = fallbackTable(cat)
    val before = liveRel(path)
    // a string predicate prunes no file statically and names no pk; the
    // statement still touches only the one file holding both rows
    spark.sql(s"UPDATE $cat.ks.t SET n = -1 WHERE v IN ('${pair(0)}', '${pair(1)}')")
    val after = liveRel(path)
    val retired = before -- after
    assert(retired.size == 1,
      s"one matching file must be rewritten, got ${retired.size}: $retired")
    assert(TokenRangeSource.dvBindings(path).isEmpty)
    val t = spark.sql(s"SELECT v, n FROM $cat.ks.t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t.size == 128 && pair.forall(t(_) == -1L))
    assert(t.count(_._2 == -1L) == 2)
    // `_file` also serves as a plain metadata column (input_file_name)
    val files = spark.sql(s"SELECT DISTINCT _file FROM $cat.ks.t").count()
    assert(files == liveRel(path).size.toLong,
      "_file must surface one value per live file")
  }

  test("copy-on-write completion: an all-columns predicate retires only the matching file and loses no row") {
    val cat = freshCat("allc")
    val (path, pair) = fallbackTable(cat)
    val before = liveRel(path)
    assert(before.size >= 4)
    // references pk, v AND n; no pk equality → no bucket prune
    spark.sql(s"UPDATE $cat.ks.t SET n = -1 " +
      s"WHERE v IN ('${pair(0)}', '${pair(1)}') AND n < 1000 AND pk < 1000")
    val after = liveRel(path)
    val retired = before -- after
    assert(retired.size == 1,
      s"only the matching file may retire, got ${retired.size}: $retired")
    val t = spark.sql(s"SELECT v, n FROM $cat.ks.t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t.size == 128, s"no rows may be lost, got ${t.size}")
    assert(pair.forall(t(_) == -1L) && t.count(_._2 == -1L) == 2)
    assert(t("a127") == 127L)
  }

  test("SQL DELETE with a non-key predicate takes the copy-on-write path") {
    val cat = freshCat("del")
    // 20 matched rows above a bound of 10: the statement completes as a
    // copy-on-write rewrite (a small one leaves a vector — TokenRangeSqlMorSpec)
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING, n BIGINT)
      TBLPROPERTIES('pk'='pk', 'dml.fallback_rows'='10')""")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id), id * 10 " +
      "FROM range(0, 50)")
    val path = tablePath(cat, "t")
    val before = liveRel(path)
    // n >= 300 is NOT a pk predicate — canDeleteWhere refuses it, so this
    // exercises the row-level operation, not the metadata delete
    spark.sql(s"DELETE FROM $cat.ks.t WHERE n >= 300")
    val left = spark.sql(s"SELECT pk FROM $cat.ks.t").collect()
      .map(_.getLong(0)).sorted
    assert(left.toSeq == (0L until 30L))
    assert((before -- liveRel(path)).nonEmpty, "the rewrite retires the touched files")
    assert(TokenRangeSource.dvBindings(path).isEmpty)
  }

  test("MERGE INTO: matched rows update, unmatched insert — CQL's INSERT-is-upsert as one statement") {
    val cat = freshCat("mrg")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING, n BIGINT)
      TBLPROPERTIES('pk'='pk')""")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id), id * 10 " +
      "FROM range(0, 20)")
    val path = tablePath(cat, "t")
    val before = liveRel(path)
    spark.sql(s"""MERGE INTO $cat.ks.t AS t
      USING (SELECT id AS pk, concat('m', id) AS v, id * 100 AS n
             FROM range(15, 25)) AS s
      ON t.pk = s.pk
      WHEN MATCHED THEN UPDATE SET t.v = s.v, t.n = s.n
      WHEN NOT MATCHED THEN INSERT (pk, v, n) VALUES (s.pk, s.v, s.n)""")
    val t = spark.sql(s"SELECT * FROM $cat.ks.t").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(t.size == 25)
    assert(t(3L) == (("a3", 30L)), "untouched rows keep their values")
    assert(t(17L) == (("m17", 1700L)), "matched rows take the source image")
    assert(t(23L) == (("m23", 2300L)), "unmatched source rows insert")
    assert(before.subsetOf(liveRel(path)),
      "MERGE retires no file: matched rows are vector-suppressed")
  }

  test("row-level commits stamp their #op kind: the plain CDC tail refuses them as content-changing") {
    val cat = freshCat("tail")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING, n BIGINT)
      TBLPROPERTIES('pk'='pk')""")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id), id * 10 " +
      "FROM range(0, 16)")
    val path = tablePath(cat, "t")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rl_ck").toString
    def drain(): Long = {
      val got = new java.util.concurrent.atomic.AtomicLong(0)
      val q = spark.readStream
        .format(classOf[TokenRangeSource].getName)
        .option("pk", "pk").load(path)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.addAndGet(b.count()); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(); got.get()
    }
    assert(drain() == 16)
    spark.sql(s"UPDATE $cat.ks.t SET v = 'x' WHERE pk = 3")
    val ex = intercept[Exception] { drain() }
    assert(ex.getMessage.contains("content-changing rewrite (upsert)"),
      s"the UPDATE must stamp #op upsert, got: ${ex.getMessage}")
  }
}
