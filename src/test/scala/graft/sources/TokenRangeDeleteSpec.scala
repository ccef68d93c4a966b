package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The r11 table-maintenance layer over the manifest: row-level DELETE
  * (CQL `DELETE ... WHERE pk IN (...)`, the reference's delete surface)
  * as a bucket-grain copy-on-write rewrite on tables whose recorded
  * `dml.fallback_rows` bound the statement exceeds (under the bound it
  * binds a deletion vector, TokenRangeDvSpec), per-bucket COMPACTION as one
  * atomic read-and-overwrite, and the VACUUM sweep that retires
  * unreferenced files. The load-bearing claims, each asserted here:
  * a delete rewrites ONLY the keys' owning buckets (every other bucket's
  * files survive by reference, byte-identical), the swap is one manifest
  * flip (the pre-delete version stays pinned-readable), compaction leaves
  * exactly one file per non-empty bucket without changing a row, and
  * vacuum deletes exactly the files no retained version references. */
class TokenRangeDeleteSpec extends SparkSpec {
  private val fmt = classOf[TokenRangeSource].getName

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tr_delete").toString

  private val ddl = "pk BIGINT, v STRING"

  private def seed(dir: String, keys: Seq[Long]): Unit = {
    val s2 = spark; import s2.implicits._
    keys.map(i => (i, s"a$i")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk").option("schema", ddl)
      .mode("append").save(dir)
  }
  /** `dir` with a one-row vector bound recorded before its first write:
    * statements of two or more rows or keys rewrite what they touch. */
  private def rewriting(dir: String, schema: String = ddl): String = {
    TokenRangeSource.recordPk(dir, "pk", schemaDdl = Some(schema),
      morFallbackRows = Some(1L))
    dir
  }
  private def load(dir: String) =
    spark.read.format(fmt).option("pk", "pk").load(dir)
  private def relFiles(dir: String): Set[(Int, String)] =
    TokenRangeSource.visibleRelFiles(dir).toSet

  test("deleteKeys: removes exactly the keys; untouched buckets survive by reference; old version pinned-readable") {
    val dir = rewriting(freshDir())
    val all = (0L until 200L)
    seed(dir, all)
    val before = relFiles(dir)
    val vBefore = TokenRangeSource.currentVersion(dir).get

    val doomed = Seq(3L, 77L, 141L)
    // this spec pins the COPY-ON-WRITE contract (file retirement);
    // the merge-on-read path has its own physical spec (TokenRangeDvSpec)
    TokenRangeOps.deleteKeys(spark, dir, "pk", doomed)

    // exactly those rows gone, every other row intact
    val got = load(dir).select("pk").collect().map(_.getLong(0)).toSet
    assert(got == all.toSet -- doomed)

    // bucket-grain copy-on-write: files in unaffected buckets are the
    // SAME manifest entries (and the same bytes on disk); affected
    // buckets' files were all retired and rewritten
    val affected = doomed.map(TokenLayout.bucketOfValue).toSet
    val after = relFiles(dir)
    val beforeUntouched = before.filterNot { case (k, _) => affected(k) }
    val afterUntouched = after.filterNot { case (k, _) => affected(k) }
    assert(afterUntouched == beforeUntouched,
      "a delete must not rewrite buckets it does not touch")
    val beforeAffected = before.filter { case (k, _) => affected(k) }.map(_._2)
    val afterAffected = after.filter { case (k, _) => affected(k) }.map(_._2)
    assert(beforeAffected.nonEmpty && (beforeAffected & afterAffected).isEmpty,
      "every affected-bucket file must be retired by the rewrite")

    // one atomic flip: exactly one new version, and the pre-delete
    // version still serves the pre-delete table in full
    val vAfter = TokenRangeSource.currentVersion(dir).get
    assert(vAfter == vBefore + 1)
    val pinned = spark.read.format(fmt).option("pk", "pk")
      .option("version", vBefore.toString).load(dir)
    assert(pinned.count() == all.size,
      "the pre-delete version must stay readable (snapshot isolation)")
  }

  test("SupportsDelete: deleteWhere(In/EqualTo on pk) works through the DSv2 table; non-pk predicates refused") {
    val dir = freshDir()
    seed(dir, 0L until 50L)
    val provider = new TokenRangeSource()
    val props = new java.util.HashMap[String, String]()
    props.put("path", dir); props.put("pk", "pk")
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(props)
    val table = provider.getTable(provider.inferSchema(opts), Array.empty, props)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]

    assert(table.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("pk", Array[Any](1L, 2L)))))
    assert(table.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("pk", 3L))))
    // CQL parity: DELETE restricts by partition key, not arbitrary columns
    assert(!table.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("v", "a1"))))

    // the DSv2 contract is CONJUNCTIVE: In(1,2) AND pk=3 matches nothing,
    // so nothing may be deleted (the r11 review caught a union semantics
    // here that deleted all three)
    val vBefore = TokenRangeSource.currentVersion(dir).get
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("pk", Array[Any](1L, 2L)),
      org.apache.spark.sql.sources.EqualTo("pk", 3L)))
    assert(load(dir).count() == 50, "contradictory conjunction deletes nothing")
    assert(TokenRangeSource.currentVersion(dir).get == vBefore, "and flips nothing")
    // an overlapping conjunction deletes exactly the intersection
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("pk", Array[Any](1L, 2L, 3L)),
      org.apache.spark.sql.sources.In("pk", Array[Any](2L, 3L, 4L))))
    assert(load(dir).select("pk").collect().map(_.getLong(0)).toSet
      == (0L until 50L).toSet -- Set(2L, 3L))
    // a single-predicate delete is the plain CQL shape
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("pk", 1L)))
    assert(load(dir).select("pk").collect().map(_.getLong(0)).toSet
      == (0L until 50L).toSet -- Set(1L, 2L, 3L))
    // an empty filter array is an unconditional DELETE — refused up front
    // (canDeleteWhere=false routes Spark to the explicit truncate path)
    assert(!table.canDeleteWhere(Array.empty[org.apache.spark.sql.sources.Filter]))
    intercept[IllegalArgumentException] {
      table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("v", "a9")))
    }
  }

  test("deleteKeys: deleting every row of a bucket leaves the bucket empty (no ghost file), others intact") {
    val dir = rewriting(freshDir())
    // keys all landing in one bucket plus a control key elsewhere
    val together = (0L until 5000L)
      .filter(TokenLayout.bucketOfValue(_) == 0).take(4).toSeq
    assert(together.size == 4)
    val control = (0L until 5000L).find(TokenLayout.bucketOfValue(_) == 1).get
    seed(dir, together :+ control)
    TokenRangeOps.deleteKeys(spark, dir, "pk", together)
    assert(load(dir).select("pk").collect().map(_.getLong(0)).toSeq
      == Seq(control))
    assert(!relFiles(dir).exists(_._1 == 0),
      "an emptied bucket must publish no file at all")
  }

  test("upsert: replaces exactly the incoming keys, untouched buckets by reference, one flip, empty-table bootstrap") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    seed(dir, 0L until 200L)
    val before = relFiles(dir)
    val vBefore = TokenRangeSource.currentVersion(dir).get
    val incoming = Seq((3L, "NEW3"), (77L, "NEW77"), (900L, "NEW900"))
      .toDF("pk", "v") // 900 is a brand-new key: upsert must insert it
    TokenRangeOps.upsert(spark, dir, "pk", incoming)

    val got = load(dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 201)
    assert(got(3L) == "NEW3" && got(77L) == "NEW77" && got(900L) == "NEW900")
    assert((0L until 200L).filterNot(Set(3L, 77L))
      .forall(k => got(k) == s"a$k"), "non-upserted rows untouched")

    // bucket-grain: only the incoming keys' owning buckets rewrote
    val affected = Seq(3L, 77L, 900L).map(TokenLayout.bucketOfValue).toSet
    val after = relFiles(dir)
    assert(after.filterNot(f => affected(f._1))
      == before.filterNot(f => affected(f._1)),
      "an upsert must not rewrite buckets it does not touch")
    // one atomic flip; the pre-upsert version still serves the old rows
    assert(TokenRangeSource.currentVersion(dir).get == vBefore + 1)
    val pinned = spark.read.format(fmt).option("pk", "pk")
      .option("version", vBefore.toString).load(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pinned(3L) == "a3" && !pinned.contains(900L))

    // bootstrap: upsert into an EMPTY keyspace table is a plain insert
    val fresh = freshDir()
    new java.io.File(fresh).mkdirs()
    // (schema comes from the incoming frame through the sink's DDL-less
    // append path: the table has a manifest after the legacy pin)
    Seq((1L, "x")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk").option("schema", ddl)
      .mode("append").save(fresh)
    TokenRangeOps.upsert(spark, fresh, "pk", Seq((1L, "y"), (2L, "z")).toDF("pk", "v"))
    assert(load(fresh).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "y", 2L -> "z"))
  }

  test("compact racing an append: the committed append survives the flip (no lost update)") {
    val dir = freshDir()
    seed(dir, 0L until 100L)
    // an append COMMITS while the compaction is mid-flight (after its
    // snapshot pin, before its flip); the compaction's flip retires
    // exactly the pinned snapshot's files (r11 review: the old
    // mode("overwrite") truncate-at-flip dropped the append here)
    TokenRangeOps.onSnapshotPinned = () => {
      TokenRangeOps.onSnapshotPinned = () => ()
      seed(dir, 1000L until 1010L)
    }
    try TokenRangeOps.compact(spark, dir, "pk")
    finally TokenRangeOps.onSnapshotPinned = () => ()
    assert(load(dir).count() == 110,
      "a committed concurrent append must survive the compaction flip")
    assert(load(dir).filter(col("pk") >= 1000L).count() == 10)
  }

  test("expire mode=dv: expired files retire unread, boundary files vector-suppressed, NO rewrite (r17)") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    val tddl = "pk BIGINT, ts TIMESTAMP, v STRING"
    def tranche(rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("pk", "us", "v")
        .select(col("pk"),
          org.apache.spark.sql.functions.timestamp_micros(col("us")).as("ts"),
          col("v"))
        .coalesce(1)
        .write.format(fmt).option("pk", "pk").option("schema", tddl)
        .mode("append").save(dir)
    // wholly expired / wholly live / a straddler (mixed ts, one file)
    tranche((0L until 20L).map(i => (i, 1000L + i, s"old$i")))
    tranche((100L until 120L).map(i => (i, 9000L + i, s"new$i")))
    val cKeys = (200L until 5000L).filter(TokenLayout.bucketOfValue(_) == 3)
      .take(8).toSeq
    tranche(cKeys.zipWithIndex.map { case (k, i) =>
      (k, if (i % 2 == 0) 2000L else 8000L, s"mix$k") })
    val before = TokenRangeSource.visibleRelFiles(dir).map(_._2).toSet
    TokenRangeOps.expire(spark, dir, "pk", "ts", 5000L)
    val after = TokenRangeSource.visibleRelFiles(dir).map(_._2).toSet
    assert((after -- before).isEmpty,
      "a merge-on-read expiry writes NO data file")
    assert((before -- after).nonEmpty,
      "wholly-expired files still retire from the manifest (free)")
    assert(TokenRangeSource.dvBindings(dir).nonEmpty,
      "the boundary file carries a position vector")
    val t = spark.read.format(fmt).option("pk", "pk").load(dir)
    val pks = t.select("pk").collect().map(_.getLong(0)).toSet
    assert(!pks.exists(_ < 100L), "expired tranche gone")
    assert((100L until 120L).forall(pks), "live tranche intact")
    val mixLive = cKeys.zipWithIndex.filter(_._2 % 2 == 1).map(_._1).toSet
    assert(pks.intersect(cKeys.toSet) == mixLive,
      "exactly the boundary file's live half survives")
    assert(t.count() == (20 + 4).toLong)
    // compaction applies the expiry physically
    TokenRangeOps.compact(spark, dir, "pk")
    assert(TokenRangeSource.dvBindings(dir).isEmpty)
    assert(spark.read.format(fmt).option("pk", "pk").load(dir).count() == 24L)
  }

  test("expire: wholly-expired files retire unread, wholly-live survive by reference, straddlers rewrite — one flip") {
    val s2 = spark; import s2.implicits._
    val tddl = "pk BIGINT, ts TIMESTAMP, v STRING"
    val dir = rewriting(freshDir(), tddl)
    def tranche(rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("pk", "us", "v")
        .select(col("pk"), org.apache.spark.sql.functions.timestamp_micros(col("us")).as("ts"), col("v"))
        .coalesce(1) // one task -> one file per touched bucket, so each
                     // tranche's time-class is a whole-FILE property
        .write.format(fmt).option("pk", "pk").option("schema", tddl)
        .mode("append").save(dir)
    // A: wholly expired; B: wholly live; C: a guaranteed STRADDLER —
    // 8 keys all owning the same token bucket, ts alternating across the
    // cutoff (5000), single task -> exactly one mixed file
    val cKeys = (200L until 5000L).filter(TokenLayout.bucketOfValue(_) == 3).take(8).toSeq
    assert(cKeys.size == 8)
    tranche((0L until 40L).map(i => (i, 1000L + i, s"old$i")))
    tranche((100L until 140L).map(i => (i, 9000L + i, s"new$i")))
    tranche(cKeys.zipWithIndex.map { case (k, i) =>
      (k, if (i % 2 == 0) 2000L else 8000L, s"mix$k") })
    // D: NULL-ts rows (CQL: no writetime -> never expires) mixed with
    // expired rows in one file — the file must REWRITE (stats alone say
    // wholly-expired) and the null rows must survive it
    (5000L until 5004L).map(i => (i, Option.empty[Long], s"null$i"))
      .toDF("pk", "us", "v")
      .union((6000L until 6004L).map(i => (i, Option(1500L), s"old$i"))
        .toDF("pk", "us", "v"))
      .select(col("pk"), org.apache.spark.sql.functions.timestamp_micros(col("us")).as("ts"), col("v"))
      .coalesce(1)
      .write.format(fmt).option("pk", "pk").option("schema", tddl)
      .mode("append").save(dir)
    val before = TokenRangeSource.visibleRelFiles(dir).map(_._2).toSet
    val vBefore = TokenRangeSource.currentVersion(dir).get
    // identify each tranche's files by content
    def filesOf(pred: Long => Boolean): Set[String] =
      before.filter { rel =>
        spark.read.parquet(new java.io.File(dir, rel).getAbsolutePath)
          .select("pk").collect().map(_.getLong(0)).forall(pred)
      }
    val aFiles = filesOf(_ < 100L); val bFiles = filesOf(k => k >= 100L && k < 200L)
    val cFiles = filesOf(k => k >= 200L && k < 5000L)
    assert(aFiles.nonEmpty && bFiles.nonEmpty && cFiles.size == 1)

    TokenRangeOps.expire(spark, dir, "pk", "ts", 5000L)

    val after = TokenRangeSource.visibleRelFiles(dir).map(_._2).toSet
    assert((after & aFiles).isEmpty, "wholly-expired files must retire")
    assert(bFiles.subsetOf(after), "wholly-live files must survive by reference")
    assert((after & cFiles).isEmpty, "straddling files must be rewritten")
    assert(TokenRangeSource.currentVersion(dir).get == vBefore + 1,
      "expiry must be ONE atomic flip")
    val rows = spark.read.format(fmt).option("pk", "pk").load(dir)
      .select("pk").collect().map(_.getLong(0)).toSet
    val want = (100L until 140L).toSet ++
      cKeys.zipWithIndex.collect { case (k, i) if i % 2 == 1 => k } ++
      (5000L until 5004L) // null-ts rows never expire
    assert(rows == want, "exactly the post-horizon + null-ts rows must survive")

    // a second horizon past B/C retires every timed row; the null-ts
    // rows (no writetime) survive every horizon
    TokenRangeOps.expire(spark, dir, "pk", "ts", 100000L)
    assert(spark.read.format(fmt).option("pk", "pk").load(dir)
      .select("pk").collect().map(_.getLong(0)).toSet == (5000L until 5004L).toSet)
    // and a table that really holds nothing empties completely: delete
    // the null rows, then the manifest lists no files
    TokenRangeOps.deleteKeys(spark, dir, "pk", (5000L until 5004L))
    assert(spark.read.format(fmt).option("pk", "pk").load(dir).count() == 0)
    assert(TokenRangeSource.visibleRelFiles(dir).isEmpty)

    // no-op horizon: nothing at or below it → no version bump
    val vNow = TokenRangeSource.currentVersion(dir).get
    TokenRangeOps.expire(spark, dir, "pk", "ts", 1L)
    assert(TokenRangeSource.currentVersion(dir).get == vNow)
  }

  test("compact: one file per non-empty bucket, zero row changes, old version readable until vacuum") {
    val dir = freshDir()
    val all = (0L until 300L)
    // three appends → up to 3 part files per bucket
    (0 until 3).foreach(r => seed(dir, all.filter(_ % 3 == r)))
    val before = load(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val filesBefore = relFiles(dir)
    val nonEmptyBuckets = filesBefore.map(_._1)
    assert(filesBefore.size > nonEmptyBuckets.size,
      "the fixture must start with multiple files in some bucket")
    val vBefore = TokenRangeSource.currentVersion(dir).get

    TokenRangeOps.compact(spark, dir, "pk")

    val filesAfter = relFiles(dir)
    assert(filesAfter.map(_._1) == nonEmptyBuckets, "no bucket may vanish")
    assert(filesAfter.size == nonEmptyBuckets.size,
      s"compaction must leave ONE file per non-empty bucket, got $filesAfter")
    val after = load(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "compaction must not change a single row")
    // placement invariant: every physical row still hashes to its dir
    TokenRangeSource.bucketDirs(dir).foreach { case (k, d) =>
      val inManifest = filesAfter.collect {
        case (b, rel) if b == k => new java.io.File(dir, rel).getAbsolutePath }
      if (inManifest.nonEmpty) {
        val pks = spark.read.parquet(inManifest.toSeq: _*)
          .select("pk").collect().map(_.getLong(0))
        assert(pks.forall(TokenLayout.bucketOfValue(_) == k))
      }
    }
    // snapshot isolation: the pre-compaction version still reads in full
    val pinned = spark.read.format(fmt).option("pk", "pk")
      .option("version", vBefore.toString).load(dir)
    assert(pinned.count() == all.size)

    // VACUUM retires history: only files the retained versions reference
    // survive; the pre-compaction manifests are gone
    val vAfter = TokenRangeSource.currentVersion(dir).get
    val reaped = TokenRangeOps.vacuum(dir, retainFrom = vAfter)
    assert(reaped == filesBefore.size,
      s"vacuum must reap every pre-compaction file, reaped $reaped of ${filesBefore.size}")
    assert(TokenRangeSource.versions(dir) == Seq(vAfter))
    assert(load(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == before, "vacuum must never touch the current version's data")
    // vacuum refuses to retire everything
    intercept[IllegalArgumentException] {
      TokenRangeOps.vacuum(dir, retainFrom = vAfter + 100)
    }
  }

  // ---- clustering-range DELETE (r15, VERDICT r14 next-round #3) ----------

  /** pk=1 gets 1000 ck-slabbed rows in its own append (single-pk slab
    * files — the time-slab-per-channel shape); other pks land separately. */
  private def ckRangeFixture(dir: String): Unit = {
    val s2 = spark; import s2.implicits._
    (0L until 1000L).map(i => (1L, i, s"k1-$i")).toDF("pk", "seq", "v")
      .coalesce(1)
      .write.format(fmt).option("pk", "pk").option("ck", "seq")
      .option("rollRows", "100")
      .option("schema", "pk BIGINT, seq BIGINT, v STRING")
      .mode("append").save(dir)
    (2L until 50L).map(i => (i, i, s"o$i")).toDF("pk", "seq", "v")
      .write.format(fmt).option("pk", "pk").mode("append").save(dir)
  }

  private def pk1Seqs(dir: String): Seq[Long] =
    load(dir).filter(col("pk") === 1L)
      .select("seq").collect().map(_.getLong(0)).sorted.toSeq

  test("deleteCkRange: covered slabs retire UNREAD, straddlers rewrite, rest by reference — one flip") {
    val dir = rewriting(freshDir(), "pk BIGINT, seq BIGINT, v STRING")
    ckRangeFixture(dir)
    val beforeRels = relFiles(dir).map(_._2)
    // per-file seq ranges of pk=1's slabs, to name each file's expected fate
    def seqRange(rel: String): (Long, Long) = {
      val r = spark.read.parquet(new java.io.File(dir, rel).getAbsolutePath)
        .agg(min("seq"), max("seq")).head
      (r.getLong(0), r.getLong(1))
    }
    val slabs = beforeRels.filter { rel =>
      val f = spark.read.parquet(new java.io.File(dir, rel).getAbsolutePath)
      f.filter(col("pk") === 1L).limit(1).count() == 1 && f.count() <= 100
    }.map(rel => rel -> seqRange(rel)).toMap
    assert(slabs.size == 10, s"expected 10 single-pk slabs, got ${slabs.size}")

    // DELETE WHERE pk = 1 AND seq >= 250 AND seq < 750
    TokenRangeOps.deleteCkRange(spark, dir, "pk", 1L, 250L, 750L)
    assert(pk1Seqs(dir) == ((0L until 250L) ++ (750L until 1000L)),
      "exactly the sliced rows must be gone")
    assert(load(dir).filter(col("pk") =!= 1L).count() == 48,
      "other partitions untouched")

    val afterRels = relFiles(dir).map(_._2)
    val gone = beforeRels -- afterRels
    val expectCovered = slabs.collect {
      case (rel, (mn, mx)) if mn >= 250L && mx < 750L => rel
    }.toSet
    val expectStraddle = slabs.collect {
      case (rel, (mn, mx)) if mx >= 250L && mn < 750L &&
        !(mn >= 250L && mx < 750L) => rel
    }.toSet
    assert(expectCovered.size == 4 && expectStraddle.size == 2)
    assert(gone == expectCovered ++ expectStraddle,
      s"exactly covered+straddling slabs leave the manifest, got $gone")
    // covered slabs retired UNREAD: their bytes are still on disk (only
    // vacuum reclaims), and no rewrite replaced their content
    expectCovered.foreach(rel =>
      assert(new java.io.File(dir, rel).exists, s"$rel must retire by manifest only"))
    // every untouched file survives by REFERENCE (same manifest entries)
    assert((afterRels intersect beforeRels) == beforeRels -- gone)

    // aligned range → retire-only path: no straddler, no write job at all
    val before2 = relFiles(dir).map(_._2)
    TokenRangeOps.deleteCkRange(spark, dir, "pk", 1L, 0L, 100L)
    val after2 = relFiles(dir).map(_._2)
    assert(before2 -- after2 == slabs.collect {
      case (rel, (mn, mx)) if mn >= 0L && mx < 100L => rel }.toSet)
    assert((after2 -- before2).isEmpty,
      "an aligned range tombstone is metadata-only — no file is written")
    assert(pk1Seqs(dir) == ((100L until 250L) ++ (750L until 1000L)))
  }

  test("deleteCkRange mode=dv: covered slabs retire unread, straddlers vector-suppressed, NO rewrite (r17)") {
    val dir = freshDir()
    ckRangeFixture(dir)
    val beforeRels = relFiles(dir).map(_._2)
    // DELETE WHERE pk = 1 AND seq >= 250 AND seq < 750, merge-on-read
    TokenRangeOps.deleteCkRange(spark, dir, "pk", 1L, 250L, 750L)
    assert(pk1Seqs(dir) == ((0L until 250L) ++ (750L until 1000L)),
      "exactly the sliced rows must be gone through the vector merge")
    assert(load(dir).filter(col("pk") =!= 1L).count() == 48,
      "other partitions untouched")
    val afterRels = relFiles(dir).map(_._2)
    assert((afterRels -- beforeRels).isEmpty,
      "a merge-on-read range tombstone writes NO data file")
    assert((beforeRels -- afterRels).nonEmpty,
      "provably-covered slabs still retire from the manifest (free)")
    assert(TokenRangeSource.dvBindings(dir).nonEmpty,
      "straddling slabs carry a position vector")
    // the vector binds ONLY straddlers — files of other partitions and
    // out-of-range slabs carry nothing
    val bound = TokenRangeSource.dvBindings(dir).map(_._1).toSet
    bound.foreach { rel =>
      val f = spark.read.parquet(new java.io.File(dir, rel).getAbsolutePath)
      assert(f.filter(col("pk") === 1L &&
        col("seq") >= 250L && col("seq") < 750L).count() > 0,
        s"$rel is bound but holds no in-range row")
    }
    // point/count shapes merge the vector too
    assert(load(dir).filter(col("pk") === 1L).count() == 500L)
    // compaction applies the range tombstone physically
    TokenRangeOps.compact(spark, dir, "pk")
    assert(TokenRangeSource.dvBindings(dir).isEmpty)
    assert(pk1Seqs(dir) == ((0L until 250L) ++ (750L until 1000L)))
  }

  test("deleteCkRange: refusals (no ck recorded, empty range, composite pk) and null-ck survival") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    seed(dir, 0L until 10L) // no ck declared
    assert(intercept[Exception] {
      TokenRangeOps.deleteCkRange(spark, dir, "pk", 1L, 0L, 5L)
    }.getMessage.contains("recorded clustering key"))
    val dir2 = freshDir()
    Seq((1L, Some(5L), "a"), (1L, None, "b"), (1L, Some(500L), "c"))
      .toDF("pk", "seq", "v")
      .write.format(fmt).option("pk", "pk").option("ck", "seq")
      .option("schema", "pk BIGINT, seq BIGINT, v STRING")
      .mode("append").save(dir2)
    // an EMPTY range is a vacuous no-op, exactly like the equivalent
    // DELETE statement (r15 review: a degenerate single-microsecond
    // partition span must not throw)
    TokenRangeOps.deleteCkRange(spark, dir2, "pk", 1L, 5L, 5L)
    assert(load(dir2).count() == 3)
    // NULL-ck rows never match a range predicate (CQL/SQL agree): the
    // straddling delete must keep them
    TokenRangeOps.deleteCkRange(spark, dir2, "pk", 1L, 0L, 100L)
    val left = load(dir2).select("v").collect().map(_.getString(0)).sorted
    assert(left.toSeq == Seq("b", "c"), s"null-ck row must survive, got ${left.toSeq}")
  }

  test("deleteCkRange racing a compact: conflict-validated, retried from the new snapshot") {
    val dir = freshDir()
    ckRangeFixture(dir)
    var fired = false
    TokenRangeOps.onSnapshotPinned = () => {
      TokenRangeOps.onSnapshotPinned = () => () // one-shot, no recursion
      fired = true
      TokenRangeOps.compact(spark, dir, "pk")
    }
    try TokenRangeOps.deleteCkRange(spark, dir, "pk", 1L, 250L, 750L)
    finally TokenRangeOps.onSnapshotPinned = () => ()
    assert(fired)
    assert(pk1Seqs(dir) == ((0L until 250L) ++ (750L until 1000L)),
      "the retried rewrite must land exactly once against the compacted snapshot")
    assert(load(dir).count() == 500 + 48)
  }

  // ---- per-cell LWW upsert (r15, VERDICT r14 next-round #5) ---------------

  test("upsertCells: bound cells replace, unbound cells keep, new keys NULL-fill — across two rounds") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    (0L until 32L).map(i => (i, s"a$i", i * 1.0)).toDF("pk", "a", "b")
      .write.format(fmt).option("pk", "pk")
      .option("schema", "pk BIGINT, a STRING, b DOUBLE")
      .mode("append").save(dir)
    // round 1 stamps cell `a` for keys 1,2; round 2 stamps cell `b` for
    // keys 2,3 and a NEW key 100 — the CQL UPDATE-binds-a-subset flow
    TokenRangeOps.upsertCells(spark, dir, "pk",
      Seq((1L, "X1"), (2L, "X2")).toDF("pk", "a"))
    TokenRangeOps.upsertCells(spark, dir, "pk",
      Seq((2L, 1002.0), (3L, 1003.0), (100L, 42.0)).toDF("pk", "b"))
    val got = load(dir).collect().map(r => r.getLong(0) ->
      ((if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))).toMap
    assert(got(1L) == (("X1", 1.0)), "round-1 cell + original b")
    assert(got(2L) == (("X2", 1002.0)), "round-1 a survives round-2's b stamp")
    assert(got(3L) == (("a3", 1003.0)), "original a + round-2 b")
    assert(got(100L) == ((null, 42.0)), "new key: unbound cells NULL")
    assert(got(5L) == (("a5", 5.0)), "untouched keys intact")
    assert(got.size == 33)
    // refusals: unknown column; frame missing the pk
    assert(intercept[Exception] {
      TokenRangeOps.upsertCells(spark, dir, "pk",
        Seq((1L, 9.9)).toDF("pk", "nope"))
    }.getMessage.contains("addColumn"))
    assert(intercept[Exception] {
      TokenRangeOps.upsertCells(spark, dir, "pk",
        Seq(Tuple1("X")).toDF("a"))
    }.getMessage.contains("partition key"))
    // duplicate incoming keys refused: the join would fan out and write
    // two physical rows for one pk (no writetime to break the tie)
    assert(intercept[Exception] {
      TokenRangeOps.upsertCells(spark, dir, "pk",
        Seq((7L, "X"), (7L, "Y")).toDF("pk", "a"))
    }.getMessage.contains("more than once"))
    assert(load(dir).filter(col("pk") === 7L).count() == 1)
  }

  test("upsertCells tombstoneNulls: a bound NULL is CQL's SET c = null cell tombstone") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    (0L until 8L).map(i => (i, s"a$i", i * 1.0)).toDF("pk", "a", "b")
      .write.format(fmt).option("pk", "pk")
      .option("schema", "pk BIGINT, a STRING, b DOUBLE")
      .mode("append").save(dir)
    // bind `a` with an explicit NULL for key 2 and a value for key 3;
    // `b` stays unbound everywhere
    val in = Seq((2L, null.asInstanceOf[String]), (3L, "X3")).toDF("pk", "a")
    // default mode: the NULL keeps the stored value (newest-non-null merge)
    TokenRangeOps.upsertCells(spark, dir, "pk", in)
    val kept = load(dir).filter(col("pk") === 2L).collect().head
    assert(kept.getString(1) == "a2", "default mode: bound NULL keeps")
    // tombstone mode: the bound NULL KILLS the cell; unbound `b` keeps
    TokenRangeOps.upsertCells(spark, dir, "pk", in, tombstoneNulls = true)
    val got = load(dir).collect().map(r => r.getLong(0) ->
      ((if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))).toMap
    assert(got(2L) == ((null, 2.0)), "bound NULL tombstones the cell, unbound keeps")
    assert(got(3L) == (("X3", 3.0)), "bound value still replaces")
    assert(got(5L) == (("a5", 5.0)), "unbound keys untouched")
  }

  test("upsertCells writetime: out-of-order older writes LOSE per cell; NULL-binds are stamped tombstones (r16)") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    (0L until 6L).map(i => (i, s"a$i", i * 1.0)).toDF("pk", "a", "b")
      .write.format(fmt).option("pk", "pk")
      .option("schema", "pk BIGINT, a STRING, b DOUBLE")
      .mode("append").save(dir)
    // wt=300: tombstone `a` for keys 1,2 (CQL: SET a = null USING TIMESTAMP 300)
    TokenRangeOps.upsertCells(spark, dir, "pk",
      Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
        .toDF("pk", "a"),
      writetimeMicros = Some(300L))
    // wt=200 ARRIVES LATER but is older: binds a AND b on key 1 — `a`
    // must LOSE to the newer tombstone, `b` (never stamped) must take
    TokenRangeOps.upsertCells(spark, dir, "pk",
      Seq((1L, "late", -1.0)).toDF("pk", "a", "b"),
      writetimeMicros = Some(200L))
    // wt=400: a genuinely newer write resurrects `a` on key 2
    TokenRangeOps.upsertCells(spark, dir, "pk",
      Seq((2L, "fresh")).toDF("pk", "a"),
      writetimeMicros = Some(400L))
    val got = load(dir).collect().map(r => r.getLong(0) ->
      ((if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))).toMap
    assert(got(1L) == ((null, -1.0)),
      "the 300-tombstone must shadow the later-arriving 200 write of `a`; " +
        "`b` takes the 200 write (never stamped)")
    assert(got(2L) == (("fresh", 2.0)),
      "a strictly newer write wins the tombstoned cell back")
    assert(got(4L) == (("a4", 4.0)), "unbound keys untouched")
    // the writetime shadows are queryable (the WRITETIME(c) analog)
    val wt = load(dir).filter(col("pk") === 1L)
      .select("_wt_a", "_wt_b").collect().head
    assert(wt.getLong(0) == 300L && wt.getLong(1) == 200L)
    // binding a _wt_ shadow directly is refused in writetime mode
    val ex = intercept[IllegalArgumentException] {
      TokenRangeOps.upsertCells(spark, dir, "pk",
        Seq((1L, 999L)).toDF("pk", "_wt_a"), writetimeMicros = Some(500L))
    }
    assert(ex.getMessage.contains("_wt_"), ex.getMessage)
    // equal stamps keep the stored cell (documented deterministic tie)
    TokenRangeOps.upsertCells(spark, dir, "pk",
      Seq((2L, "tie")).toDF("pk", "a"), writetimeMicros = Some(400L))
    assert(load(dir).filter(col("pk") === 2L).collect().head.getString(1)
      == "fresh", "ties keep the stored cell")
  }
}
