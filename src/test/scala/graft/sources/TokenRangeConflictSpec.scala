package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Copy-on-write CONFLICT VALIDATION at the manifest flip (VERDICT r12
  * next-round #2 — the engine's one silent-data-loss path until now): a
  * rewrite whose `replaceFiles` names files a RACING committer already
  * retired must not publish (it would resurrect the racer's deleted rows
  * and duplicate its survivors in one flip); it must fail with
  * [[ManifestConflictException]] and the public ops must re-run from the
  * new snapshot so the final state equals the SERIAL order (racer first,
  * rewrite second).
  *
  * The races are driven DETERMINISTICALLY through the
  * [[TokenRangeOps.onSnapshotPinned]] seam — the racing commit runs
  * single-threaded between the rewrite's snapshot pin and its publish, no
  * sleeps, no flaky interleavings. */
class TokenRangeConflictSpec extends SparkSpec {
  private val fmt = classOf[TokenRangeSource].getName

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val ddl = "pk BIGINT, v STRING"

  private def seed(dir: String, n: Long): Unit = {
    val s2 = spark; import s2.implicits._
    (0L until n).map(i => (i, s"a$i")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk").option("schema", ddl)
      .mode("append").save(dir)
  }
  private def load(dir: String) =
    spark.read.format(fmt).option("pk", "pk").load(dir)

  /** Run `body` with a ONE-SHOT racing action installed on the
    * snapshot-pinned seam: the seam uninstalls itself before running the
    * action (so a racer that is itself a TokenRangeOps rewrite never
    * re-triggers it, and the retried attempt runs clean), and the
    * finally-reset guarantees no stale closure leaks into later tests
    * even when `body` throws before the seam fires (r13 review). */
  private def withRace(action: => Unit)(body: => Unit): Unit = {
    TokenRangeOps.onSnapshotPinned = () => {
      TokenRangeOps.onSnapshotPinned = () => ()
      action
    }
    try body finally TokenRangeOps.onSnapshotPinned = () => ()
  }

  test("publishManifest refuses a removeRel file a racing committer already retired") {
    val dir = freshDir("graft_tr_conflict_low")
    seed(dir, 64)
    val before = TokenRangeSource.visibleRelFiles(dir, None).map(_._2)
    assert(before.nonEmpty)
    // racing committer retires the first file (flip without it)
    TokenRangeSource.publishManifest(dir, Nil, truncate = false,
      removeRel = Set(before.head))
    val vAfterRace = TokenRangeSource.versions(dir).max
    // the stale rewrite now tries to retire the SAME file → must refuse
    val ex = intercept[ManifestConflictException] {
      TokenRangeSource.publishManifest(dir, Seq.empty, truncate = false,
        removeRel = Set(before.head))
    }
    assert(ex.getMessage.contains("copy-on-write conflict"))
    assert(TokenRangeSource.versions(dir).max == vAfterRace,
      "a refused publish must not mint a version")
  }

  test("DELETE racing a compact: final state = delete-then-compact (no resurrection, no duplicates)") {
    val dir = freshDir("graft_tr_conflict_dc")
    seed(dir, 200)
    val doomed = Seq[Any](7L, 42L, 137L)
    // the DELETE commits while the compaction holds its pinned snapshot:
    // the compaction's replaceFiles still name the pre-delete files the
    // DELETE just retired → its first publish conflicts → it retries from
    // the post-delete snapshot
    withRace(TokenRangeOps.deleteKeys(spark, dir, "pk", doomed)) {
      TokenRangeOps.compact(spark, dir, "pk")
    }
    val rows = load(dir).collect()
    assert(rows.length == 197, s"expected 197 survivors, got ${rows.length}")
    val pks = rows.map(_.getAs[Long]("pk"))
    assert(pks.toSet.intersect(Set(7L, 42L, 137L)).isEmpty,
      "deleted keys must NOT be resurrected by the racing compaction")
    assert(pks.length == pks.toSet.size, "no survivor may be duplicated")
    // and the compaction still did its job: one file per non-empty bucket
    val perBucket = TokenRangeSource.visibleRelFiles(dir, None)
      .groupBy(_._1).map(_._2.size)
    assert(perBucket.forall(_ == 1), s"compacted layout: $perBucket")
  }

  test("upsert racing a TTL expire: final state = upsert-then-expire") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_conflict_ue")
    val ddlTs = "pk BIGINT, v STRING, ts TIMESTAMP"
    val cutoff = 1000000L // µs
    // half the rows expired (ts <= cutoff), half live
    (0L until 100L).map(i =>
        (i, s"a$i", new java.sql.Timestamp((if (i < 50) 1L else 2000L) * 1000)))
      .toDF("pk", "v", "ts")
      .write.format(fmt).option("pk", "pk").option("schema", ddlTs)
      .mode("append").save(dir)
    // racing upsert: rewrites key 10 (old ts → would expire) with a LIVE
    // ts, and key 60 with new value — it retires the touched buckets'
    // files while the expire holds its pinned classification
    val incoming = Seq(
      (10L, "fresh10", new java.sql.Timestamp(2000L * 1000)),
      (60L, "fresh60", new java.sql.Timestamp(2000L * 1000)))
      .toDF("pk", "v", "ts")
    withRace(TokenRangeOps.upsert(spark, dir, "pk", incoming)) {
      TokenRangeOps.expire(spark, dir, "pk", "ts", cutoff)
    }
    val rows = load(dir).collect().map(r =>
      r.getAs[Long]("pk") -> r.getAs[String]("v")).toMap
    // serial order (upsert, then expire): keys 0-49 expired EXCEPT 10
    // (upserted to a live ts) → 49 expired, 51 survivors (10 + 50-99)
    assert(rows.size == 51, s"expected 51 survivors, got ${rows.size}")
    assert(rows(10L) == "fresh10", "upserted-to-live row must survive the expire")
    assert(rows(60L) == "fresh60")
    assert(!rows.contains(11L), "expired rows must stay expired")
    assert(rows(61L) == "a61", "untouched live rows survive")
    val dup = load(dir).groupBy("pk").count().filter(col("count") > 1).count()
    assert(dup == 0, "no row may be duplicated by the retried rewrite")
  }

  test("a flip that loses its race deletes the _dv/ and _cdf/ sidecars it wrote") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_conflict_sidecars")
    seed(dir, 64)
    TokenRangeOps.enableChangeFeed(dir)
    // attempts of `step`, with `racer` committing at its first pin
    def racedBy(racer: => Unit)(step: => Unit): Int = {
      var pins = 0
      TokenRangeOps.onSnapshotPinned = () => {
        TokenRangeOps.onSnapshotPinned = () => ()
        racer
        TokenRangeOps.onSnapshotPinned = () => pins += 1
        pins += 1
      }
      try step finally TokenRangeOps.onSnapshotPinned = () => ()
      pins
    }
    // the compaction retires every file the step's vector binds, so the
    // first flip conflicts after writing its vector and change sidecars
    assert(racedBy(TokenRangeOps.compact(spark, dir, "pk")) {
      TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(3L, 40L))
    } == 2)
    assert(racedBy(TokenRangeOps.compact(spark, dir, "pk")) {
      TokenRangeOps.upsert(spark, dir, "pk", Seq((5L, "n5"), (6L, "n6")).toDF("pk", "v"))
    } == 2)
    val rows = load(dir).collect().map(r => r.getAs[Long]("pk") -> r.getAs[String]("v")).toMap
    assert(rows.size == 62 && rows(5L) == "n5" && !rows.contains(40L))
    val referenced = TokenRangeSource.versions(dir).flatMap(v =>
      TokenRangeSource.dvBindings(dir, Some(v)).map(_._2) ++
        TokenRangeSource.cdfRelAt(dir, v)).toSet
    val sidecars = Seq("_dv", "_cdf").flatMap(d =>
      Option(new java.io.File(dir, d).list()).toSeq.flatten.map(n => s"$d/$n"))
    assert(sidecars.exists(_.startsWith("_dv/")) && sidecars.exists(_.startsWith("_cdf/")))
    assert(sidecars.filterNot(referenced).isEmpty,
      s"sidecars no manifest references: ${sidecars.filterNot(referenced)}")
  }

  test("a SQL DELETE or UPDATE that loses its race fails and deletes the _dv/ and _cdf/ sidecars it wrote") {
    val wh = freshDir("graft_tr_conflict_sql")
    val cat = "graft_conflict_sql"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[TokenRangeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ks")
    spark.sql(s"CREATE TABLE $cat.ks.t (pk BIGINT, v STRING) TBLPROPERTIES('pk'='pk')")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) FROM range(0, 64)")
    val dir = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    TokenRangeOps.enableChangeFeed(dir)
    // the statement's commit runs a compaction when it first claims the
    // commit lock: the compaction retires every file the statement's
    // vector binds, after the statement wrote its vector and change
    // sidecars
    def racedAtCommit(stmt: String): Throwable = {
      val io = TokenRangeSource.manifestIO
      var armed = true
      TokenRangeSource.manifestIO = new ManifestIO {
        override def createExclusive(p: String, c: String): Boolean = {
          if (armed && new java.io.File(p).getName == "commit.lock") {
            armed = false
            TokenRangeOps.compact(spark, dir, "pk")
          }
          io.createExclusive(p, c)
        }
        override def listNames(d: String): Seq[String] = io.listNames(d)
        override def read(p: String): String = io.read(p)
        override def write(p: String, c: String): Unit = io.write(p, c)
        override def moveAtomic(s: String, d: String): Unit = io.moveAtomic(s, d)
        override def delete(p: String): Boolean = io.delete(p)
        override def exists(p: String): Boolean = io.exists(p)
        override def lastModified(p: String): Long = io.lastModified(p)
        override def touch(p: String): Unit = io.touch(p)
      }
      try intercept[Exception](spark.sql(stmt))
      finally TokenRangeSource.manifestIO = io
    }
    def sidecars = Seq("_dv", "_cdf").flatMap(d =>
      Option(new java.io.File(dir, d).list()).toSeq.flatten.map(n => s"$d/$n"))
    def unreferenced = {
      val referenced = TokenRangeSource.versions(dir).flatMap(v =>
        TokenRangeSource.dvBindings(dir, Some(v)).map(_._2) ++
          TokenRangeSource.cdfRelAt(dir, v)).toSet
      sidecars.filterNot(referenced)
    }
    Seq(s"DELETE FROM $cat.ks.t WHERE v = 'a3'",
      s"UPDATE $cat.ks.t SET v = 'n5' WHERE v = 'a5'").foreach { stmt =>
      val ex = racedAtCommit(stmt)
      assert(Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ManifestConflictException]), s"$stmt failed with $ex")
      assert(unreferenced.isEmpty, s"after $stmt, sidecars no manifest references: $unreferenced")
    }
    def rows = spark.sql(s"SELECT pk, v FROM $cat.ks.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 64 && rows(3L) == "a3" && rows(5L) == "a5")
    // unraced, the same statement publishes both sidecars
    spark.sql(s"DELETE FROM $cat.ks.t WHERE v = 'a3'")
    assert(rows.size == 63 && !rows.contains(3L))
    assert(sidecars.exists(_.startsWith("_dv/")) && sidecars.exists(_.startsWith("_cdf/")))
    assert(unreferenced.isEmpty)
  }

  test("a rewrite losing every retry errors loudly after MaxRewriteAttempts (never silent)") {
    val dir = freshDir("graft_tr_conflict_exhaust")
    seed(dir, 200)
    // a PERSISTENT racer: re-fires on every retry's snapshot pin, each
    // time retiring files the compact's fresh snapshot still names
    // (reentrancy-guarded so the racing delete's own pin is a no-op)
    var nextKey = 0L
    var inRace = false
    TokenRangeOps.onSnapshotPinned = () => {
      if (!inRace) {
        inRace = true
        try {
          nextKey += 1
          TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(nextKey))
        } finally inRace = false
      }
    }
    try {
      val ex = intercept[IllegalStateException] {
        TokenRangeOps.compact(spark, dir, "pk")
      }
      assert(ex.getMessage.contains("consecutive"),
        s"exhaustion must be loud and name the race: ${ex.getMessage}")
      assert(nextKey >= 5L, s"all attempts must have raced (saw $nextKey)")
    } finally TokenRangeOps.onSnapshotPinned = () => ()
    // every racing delete landed; the failed compact resurrected nothing
    val pks = load(dir).collect().map(_.getAs[Long]("pk")).toSet
    assert(pks == (0L until 200L).toSet -- (1L to nextKey).toSet)
  }

  test("threaded maintenance race: concurrent delete/upsert/compact all land, no lost or doubled rows") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_conflict_threads")
    seed(dir, 400)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    val upserted = Seq((200L, "fresh200"), (201L, "fresh201"))
    val ts = Seq(
      thread(TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(10L, 20L, 30L))),
      thread(TokenRangeOps.compact(spark, dir, "pk")),
      thread(TokenRangeOps.upsert(spark, dir, "pk", upserted.toDF("pk", "v"))),
      thread(TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(110L, 120L))))
    ts.foreach(_.join(120000))
    assert(ts.forall(!_.isAlive), "a hung rewrite is its own failure — " +
      "do not let it masquerade as lost rows downstream")
    assert(errors.isEmpty, s"no rewrite may fail under contention: " +
      errors.toArray.map(_.toString).mkString("; "))
    val rows = load(dir).collect()
      .map(r => r.getAs[Long]("pk") -> r.getAs[String]("v"))
    assert(rows.length == rows.map(_._1).distinct.length, "no row doubled")
    val m = rows.toMap
    assert(m.keySet == (0L until 400L).toSet -- Set(10L, 20L, 30L, 110L, 120L),
      "every delete must land regardless of interleaving")
    assert(m(200L) == "fresh200" && m(201L) == "fresh201",
      "the upsert must land regardless of interleaving")
    assert(m(0L) == "a0" && m(399L) == "a399")
  }

  test("crashed committer: a waiter steals the stale lock and recovers; vacuum reaps the tombstone") {
    val dir = freshDir("graft_tr_conflict_lock")
    seed(dir, 16)
    // simulate a crashed committer: a lock file older than the steal
    // threshold (no process will ever release it)
    val mdir = TokenRangeSource.manifestDir(dir)
    val lock = new java.io.File(mdir, "commit.lock")
    java.nio.file.Files.write(lock.toPath, "dead-holder".getBytes("UTF-8"))
    assert(lock.setLastModified(
      System.currentTimeMillis() - TokenRangeSource.LockStealAfterMillis - 5000L))
    // liveness invariant (r12 advice): a waiter's deadline must outlive
    // the steal threshold, or a crashed committer starves every waiter
    assert(TokenRangeSource.LockWaitDeadlineMillis > TokenRangeSource.LockStealAfterMillis)
    // the next commit must steal the stale lock and land (no manual
    // cleanup, well inside the waiter deadline)
    val s2 = spark; import s2.implicits._
    Seq((1000L, "late")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    assert(load(dir).count() == 17, "the waiter must recover and commit")
    assert(!lock.exists() || new String(java.nio.file.Files.readAllBytes(
      lock.toPath), "UTF-8") != "dead-holder", "the stale lock must be retired")
    val tombstones = Option(mdir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("stale-") && f.getName.endsWith(".lock"))
    assert(tombstones.nonEmpty, "the steal must leave an audit tombstone")
    TokenRangeOps.vacuum(dir, TokenRangeSource.versions(dir).max)
    val after = Option(mdir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("stale-") && f.getName.endsWith(".lock"))
    assert(after.isEmpty, "vacuum must reap stolen-lock tombstones")
  }

  test("legacy table with a tb=__HIVE_DEFAULT_PARTITION__ dir errors descriptively") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_conflict_hive")
    TokenLayout.writeTokenBucketed(
      (0L until 20L).map(i => (i, s"a$i")).toDF("pk", "v"), "pk", dir)
    // the classic legacy-layout defect: a null-key partition dir
    val bad = new java.io.File(dir, "tb=__HIVE_DEFAULT_PARTITION__")
    bad.mkdirs()
    val ex = intercept[IllegalArgumentException] {
      load(dir).count()
    }
    assert(ex.getMessage.contains("non-numeric bucket dir")
      && ex.getMessage.contains("__HIVE_DEFAULT_PARTITION__"),
      s"error must name the offending dir, got: ${ex.getMessage}")
  }
}
