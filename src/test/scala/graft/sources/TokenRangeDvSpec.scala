package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MERGE-ON-READ deletion vectors (r16, VERDICT r15 next-round #1):
  * small DELETE/upsert publish a tiny pk sidecar bound to the affected
  * files instead of rewriting them — Cassandra's tombstone-merged-at-
  * read semantic, the lakehouse formats' deletion-vector shape.
  * Load-bearing claims:
  *   - a small DELETE writes NO data file (every live data file survives
  *     by identity) yet the rows disappear from every read shape
  *     (full scan, count-only scan, point lookup, ops rewrites);
  *   - merge-on-read results are hash-equal to copy-on-write results;
  *   - delete-then-reinsert serves the new row (bindings target only
  *     files present at bind time);
  *   - compaction APPLIES the vectors physically and drops the bindings;
  *   - a copy-on-write rewrite racing a vector commit CONFLICTS and
  *     re-runs (a rewrite that didn't merge the vector must never
  *     resurrect its deleted rows);
  *   - snapshot reads at a pre-vector version still serve the rows;
  *   - the plain CDC tail refuses a vector commit as content-changing,
  *     and the change feed serves its sidecar exactly. */
class TokenRangeDvSpec extends SparkSpec {

  private val fmt = classOf[TokenRangeSource].getName

  /** 128 rows over `loads` appends. `bound` records the table's vector
    * bound before the first write: statements past it rewrite. */
  private def freshTable(tag: String, loads: Int = 4,
      bound: Option[Long] = None): String = {
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory(s"graft_dv_$tag").toString
    bound.foreach(n => TokenRangeSource.recordPk(dir, "pk",
      schemaDdl = Some("pk BIGINT, v STRING, n BIGINT"), morFallbackRows = Some(n)))
    (0 until loads).foreach { r =>
      spark.range(r * 32, (r + 1) * 32)
        .select(col("id").as("pk"), concat(lit("a"), col("id")).as("v"),
          (col("id") * 10).as("n"))
        .write.format(fmt).option("pk", "pk")
        .mode(if (r == 0) SaveMode.Overwrite else SaveMode.Append).save(dir)
    }
    dir
  }

  private def liveRel(path: String): Set[String] =
    TokenRangeSource.visibleRelFiles(path, None).map(_._2).toSet

  private def readAll(path: String) =
    spark.read.format(fmt).option("pk", "pk").load(path)

  test("small DELETE writes no data file; rows vanish from every read shape") {
    val dir = freshTable("nofile")
    val before = liveRel(dir)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L, 40L, 99L))
    // merge-on-read: every pre-existing data file survives BY IDENTITY
    assert(liveRel(dir) == before,
      "a vector delete must not add or retire any data file")
    assert(TokenRangeSource.dvBindings(dir).nonEmpty,
      "the manifest must carry vector bindings")
    val t = readAll(dir)
    assert(t.count() == 125L, "count-only scan must merge vectors")
    val keys = t.select("pk").collect().map(_.getLong(0)).toSet
    assert(!keys(7L) && !keys(40L) && !keys(99L) && keys(8L) && keys(127L))
    // point lookup on a deleted key: bucket/bloom pruning may keep the
    // file, the vector must still suppress the row
    assert(t.filter(col("pk") === 7L).count() == 0L)
    assert(t.filter(col("pk") === 8L).count() == 1L)
    // projection WITHOUT the pk column still merges (reader reads pk
    // beside the projection for the suppression test)
    assert(t.select("v").filter(col("v") === "a7").count() == 0L)
  }

  test("merge-on-read is result-equal to copy-on-write") {
    // the same statements bind vectors on `a` and rewrite on `b`, whose
    // one-row bound both exceed
    val a = freshTable("eqdv")
    val b = freshTable("eqcow", bound = Some(1L))
    TokenRangeOps.deleteKeys(spark, a, "pk", Seq(3L, 64L))
    TokenRangeOps.deleteKeys(spark, b, "pk", Seq(3L, 64L))
    assert(TokenRangeSource.dvBindings(a).nonEmpty && TokenRangeSource.dvBindings(b).isEmpty)
    val ra = readAll(a).orderBy("pk").collect().map(_.toSeq)
    val rb = readAll(b).orderBy("pk").collect().map(_.toSeq)
    assert(ra.toSeq == rb.toSeq)
    // and the upsert pair: dv-upsert ≡ cow-upsert
    val up = spark.range(60, 70)
      .select(col("id").as("pk"), lit("patched").as("v"), lit(-1L).as("n"))
    val bFiles = liveRel(b)
    TokenRangeOps.upsert(spark, a, "pk", up)
    TokenRangeOps.upsert(spark, b, "pk", up)
    assert(TokenRangeSource.dvBindings(b).isEmpty && !bFiles.subsetOf(liveRel(b)),
      "the 10-row upsert rewrites the one-row-bound table")
    val ua = readAll(a).orderBy("pk").collect().map(_.toSeq)
    val ub = readAll(b).orderBy("pk").collect().map(_.toSeq)
    assert(ua.toSeq == ub.toSeq)
    assert(readAll(a).filter(col("v") === "patched").count() == 10L)
  }

  test("dv-upsert appends without reading; old generations suppressed (LWW by storage shape)") {
    val dir = freshTable("ups")
    val before = liveRel(dir)
    val up = spark.range(10, 13)
      .select(col("id").as("pk"), lit("new").as("v"), lit(0L).as("n"))
    TokenRangeOps.upsert(spark, dir, "pk", up)
    val after = liveRel(dir)
    assert(before.subsetOf(after), "dv-upsert must retire nothing")
    assert((after -- before).nonEmpty, "the incoming rows append as new files")
    val t = readAll(dir)
    assert(t.count() == 128L, "replaced keys must not duplicate")
    assert(t.filter(col("pk") === 11L).select("v").head().getString(0) == "new")
    assert(t.filter(col("pk") === 20L).select("v").head().getString(0) == "a20")
    // upsert the SAME key again: the second vector binds the first
    // upsert's file too — newest generation wins
    val up2 = spark.range(11, 12)
      .select(col("id").as("pk"), lit("newest").as("v"), lit(1L).as("n"))
    TokenRangeOps.upsert(spark, dir, "pk", up2)
    val vs = readAll(dir).filter(col("pk") === 11L).collect()
    assert(vs.length == 1 && vs.head.getString(1) == "newest")
  }

  // the bucket-grain plan (no bloom probe) ran 4 jobs on this statement;
  // now 3: the statement aggregate (its shuffle map stage and its result
  // stage, one adaptive-execution job each), whose collected keys are
  // also the vector the driver writes, and the append
  test("upsert of 20 single-key rows runs no more Spark jobs than the bucket-grain plan did") {
    val dir = freshTable("upjobs")
    val before = liveRel(dir)
    val up = spark.range(40, 60)
      .select(col("id").as("pk"), lit("new").as("v"), lit(0L).as("n"))
    val jobs = jobsOf(TokenRangeOps.upsert(spark, dir, "pk", up))
    assert(jobs <= 3, s"upsert ran $jobs Spark jobs")
    assert(before.subsetOf(liveRel(dir)), "20 rows are under the bound: a vector")
    assert(readAll(dir).count() == 128L)
    assert(readAll(dir).filter(col("v") === "new").count() == 20L)
  }

  test("a vector deleteKeys with the change feed off runs no Spark job") {
    val dir = freshTable("deljobs")
    val before = liveRel(dir)
    assert(jobsOf(TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L, 40L))) == 0)
    assert(liveRel(dir) == before && TokenRangeSource.dvBindings(dir).nonEmpty,
      "two keys are under the bound: a vector")
    assert(readAll(dir).count() == 126L)
  }

  test("a one-row SQL DELETE and UPDATE on the vector path run one Spark job each") {
    val wh = java.nio.file.Files.createTempDirectory("graft_dv_sqljobs").toString
    val cat = "graft_dv_sqljobs"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[TokenRangeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ks")
    spark.sql(s"CREATE TABLE $cat.ks.t (pk BIGINT, v STRING, n BIGINT) TBLPROPERTIES('pk'='pk')")
    (0 until 4).foreach(r => spark.sql(s"INSERT INTO $cat.ks.t SELECT id, " +
      s"concat('a', id), id * 10 FROM range(${r * 32}, ${(r + 1) * 32})"))
    val path = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    val before = liveRel(path)
    val del = jobsOf(spark.sql(s"DELETE FROM $cat.ks.t WHERE v = 'a7'"))
    val upd = jobsOf(spark.sql(s"UPDATE $cat.ks.t SET n = -1 WHERE v = 'a9'"))
    // the statement's own scan-and-write; the commit reads its tombstones
    // and writes its vector on the driver
    assert(del <= 1, s"SQL DELETE ran $del Spark jobs")
    assert(upd <= 1, s"SQL UPDATE ran $upd Spark jobs")
    assert(before.subsetOf(liveRel(path)) && TokenRangeSource.dvBindings(path).nonEmpty,
      "one-row statements are under the bound: vectors")
    val t = readAll(path).collect().map(r => r.getAs[Long]("pk") -> r.getAs[Long]("n")).toMap
    assert(t.size == 127 && !t.contains(7L) && t(9L) == -1L)
  }

  test("compact of a vector-bearing table runs at most 2 Spark jobs") {
    val dir = freshTable("compactjobs")
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L, 40L))
    val jobs = jobsOf(TokenRangeOps.compact(spark, dir, "pk"))
    assert(jobs <= 2, s"compact ran $jobs Spark jobs")
    assert(TokenRangeSource.dvBindings(dir).isEmpty && readAll(dir).count() == 126L)
  }

  test("driver-written key vectors store BIGINT, INT and TEXT pks as the data files do") {
    Seq[(String, Column, Long => Any)](
      ("BIGINT", col("id"), k => k),
      ("INT", col("id").cast("int"), k => k.toInt),
      ("TEXT", concat(lit("k"), col("id")), k => s"k$k")).foreach { case (dt, pk, key) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_dv_pk_$dt").toString
      spark.range(0, 64).select(pk.as("pk"), col("id").as("n"))
        .write.format(fmt).option("pk", "pk").mode("overwrite").save(dir)
      val gone = Set(3L, 17L, 40L)
      TokenRangeOps.deleteKeys(spark, dir, "pk", gone.toSeq.map(key))
      val Seq(dv) = TokenRangeSource.dvBindings(dir).map(_._2).distinct
      val Seq(sidecar) = TokenRangeSource.parquetFiles(new java.io.File(dir, dv))
      def pkType(file: String) = TokenRangeSource.withParquet(file)(
        _.getFooter.getFileMetaData.getSchema.getFields.get(0))
      val data = new java.io.File(dir, liveRel(dir).head).getAbsolutePath
      assert(pkType(sidecar) == pkType(data), s"$dt: the sidecar's pk type")
      assert(readAll(dir).select("n").collect().map(_.getLong(0)).toSet ==
        (0L until 64L).toSet -- gone, s"$dt: exactly the keys are gone")
    }
  }

  test("sidecars Spark's parquet writer wrote still read: pk, (pk, TIMESTAMP ck) and position grains") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.TimestampType
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_spark").toString
    spark.range(0, 64).select((col("id") % 8).as("pk"),
        timestamp_micros(col("id") * 1000).as("ts"), concat(lit("a"), col("id")).as("v"))
      .write.format(fmt).option("pk", "pk").option("ck", "ts").mode("overwrite").save(dir)
    val live = liveRel(dir).toSeq
    // the form earlier versions wrote: one Spark task, timestamps as µs
    def sparkSidecar(vector: DataFrame): Unit = {
      val rel = TokenRangeOps.newDvRel()
      vector.select(vector.schema.fields.map(f =>
          if (f.dataType == TimestampType) unix_micros(col(f.name)).as(f.name)
          else col(f.name)).toSeq: _*)
        .coalesce(1).write.mode("error").parquet(new java.io.File(dir, rel).getAbsolutePath)
      TokenRangeSource.withCommitLock(dir)(TokenRangeSource.publishManifest(dir, Nil,
        truncate = false, opKind = "delete", dvBind = live.map(_ -> rel),
        dvSeenVersion = TokenRangeSource.currentVersion(dir)))
    }
    val ids = readAll(dir).select(col("pk"), col("ts"), col("v"),
      col(TokenRangeSource.FileCol), col(TokenRangeSource.PosCol))
    sparkSidecar(ids.filter(col("pk") === 1L).select("pk").distinct())
    sparkSidecar(ids.filter(col("v") === "a10").select("pk", "ts"))
    sparkSidecar(ids.filter(col("v") === "a5")
      .select(TokenRangeSource.FileCol, TokenRangeSource.PosCol))
    // a driver-written vector binds the same files beside them
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(3L))
    val expected = (0L until 64L).filterNot(i => i % 8 == 1L || i % 8 == 3L ||
      i == 10L || i == 5L).map(i => s"a$i").toSet
    def served = readAll(dir).select("v").collect().map(_.getString(0)).toSet
    assert(served == expected)
    TokenRangeOps.compact(spark, dir, "pk")
    assert(TokenRangeSource.dvBindings(dir).isEmpty && served == expected,
      "compaction applies every sidecar")
  }

  test("delete-then-reinsert serves the new row") {
    val dir = freshTable("reins")
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(5L))
    assert(readAll(dir).filter(col("pk") === 5L).count() == 0L)
    spark.range(5, 6)
      .select(col("id").as("pk"), lit("back").as("v"), lit(0L).as("n"))
      .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    val rows = readAll(dir).filter(col("pk") === 5L).collect()
    assert(rows.length == 1 && rows.head.getString(1) == "back",
      "a binding targets only files present at bind time — the reinserted row must serve")
  }

  test("compaction applies vectors physically and drops the bindings") {
    val dir = freshTable("cmp")
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L, 8L))
    assert(TokenRangeSource.dvBindings(dir).nonEmpty)
    TokenRangeOps.compact(spark, dir, "pk")
    assert(TokenRangeSource.dvBindings(dir).isEmpty,
      "compaction retires the bound files — bindings must drop with them")
    val t = readAll(dir)
    assert(t.count() == 126L)
    assert(t.filter(col("pk").isin(7L, 8L)).count() == 0L,
      "the compacted rewrite must not resurrect vector-deleted rows")
  }

  test("a sidecar missing a pk column fails the rewrite loudly (no partial-grain over-delete, r19)") {
    // a two-key bound: the two-key delete binds, the three-key one rewrites
    val dir = freshTable("grain", bound = Some(2L))
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L, 8L))
    val dvRels = TokenRangeSource.dvBindings(dir).map(_._2).distinct
    assert(dvRels.nonEmpty)
    // corrupt every bound sidecar IN PLACE: rename its pk column, so the
    // resolved grain is missing the recorded pk — the rewrite read must
    // refuse the anti-join (a partial grain would over-delete rows that
    // merely share the remaining columns) instead of proceeding
    dvRels.foreach { rel =>
      val abs = new java.io.File(dir, rel).getAbsolutePath
      val corrupted = spark.read.parquet(abs).withColumnRenamed("pk", "qk")
      val tmp = java.nio.file.Files.createTempDirectory("graft_dv_corrupt").toString
      corrupted.write.mode("overwrite").parquet(tmp)
      // swap the sidecar contents for the corrupted copy
      import java.nio.file._
      import java.util.Comparator
      val target = Paths.get(abs)
      Files.walk(target).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      Files.createDirectories(target)
      Files.walk(Paths.get(tmp)).filter(p => Files.isRegularFile(p)).forEach(p =>
        Files.copy(p, target.resolve(p.getFileName.toString)))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // the rewrite read (the task reader's loadDv) must refuse the partial grain —
    // key 7 so the cow rewrite touches a bucket the sidecar is bound to
    // (200 and 201 hold no row)
    val e = intercept[Exception] {
      TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L, 200L, 201L))
    }
    assert(messages(e).exists(_.contains("partial-grain")),
      s"expected the partial-grain refusal, got: ${messages(e).mkString(" | ")}")
    // and the task-reader path (loadDv) stays loud too
    val e2 = intercept[Exception] { TokenRangeOps.compact(spark, dir, "pk") }
    assert(messages(e2).exists(m =>
      m.contains("partial-grain") || m.contains("lacks pk column")),
      s"expected a loud pk-grain refusal, got: ${messages(e2).mkString(" | ")}")
  }

  test("a rewrite racing a vector commit conflicts and re-runs (no resurrection)") {
    // one-row bound: the one-key delete binds, the two-row upsert rewrites
    val dir = freshTable("race", bound = Some(1L))
    // install the race: after the upsert pins its snapshot, a vector
    // delete lands on the same bucket's files — the upsert's publish
    // must CONFLICT (unseen binding on a retired file) and re-run from
    // the post-vector snapshot
    var fired = false
    TokenRangeOps.onSnapshotPinned = () => {
      if (!fired) {
        fired = true
        TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(20L))
      }
    }
    try {
      // pk=20's bucket: upsert DIFFERENT keys of the same bucket so the
      // rewrite reads and retires the file holding pk=20
      val sameBucketKeys = (0L until 128L).filter(k =>
        k != 20L && TokenLayout.bucketOfValue(k) == TokenLayout.bucketOfValue(20L)).take(2)
      assert(sameBucketKeys.size == 2)
      val up = spark.range(0, 128).filter(col("id").isin(sameBucketKeys: _*))
        .select(col("id").as("pk"), lit("upd").as("v"), lit(-5L).as("n"))
      TokenRangeOps.upsert(spark, dir, "pk", up) // rewrite: reads + retires
      val t = readAll(dir)
      assert(t.filter(col("pk") === 20L).count() == 0L,
        "the racing vector delete must survive the rewrite (no resurrection)")
      assert(t.filter(col("pk").isin(sameBucketKeys: _*)).select("v")
        .collect().map(_.getString(0)).toSeq == Seq("upd", "upd"))
      assert(t.count() == 127L)
    } finally TokenRangeOps.onSnapshotPinned = () => ()
  }

  test("snapshot reads: a pre-vector version still serves the rows") {
    val dir = freshTable("snap")
    val v0 = TokenRangeSource.currentVersion(dir).get
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(42L))
    assert(spark.read.format(fmt).option("pk", "pk")
      .option("version", v0.toString).load(dir)
      .filter(col("pk") === 42L).count() == 1L)
    assert(readAll(dir).filter(col("pk") === 42L).count() == 0L)
  }

  test("plain CDC tail refuses a vector commit; the change feed serves its sidecar") {
    val dir = freshTable("tail", loads = 1)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dv_ck").toString
    def drain(): Long = {
      val got = new java.util.concurrent.atomic.AtomicLong(0)
      val q = spark.readStream.format(fmt).option("pk", "pk").load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.addAndGet(b.count()); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(); got.get()
    }
    assert(drain() == 32)
    TokenRangeOps.enableChangeFeed(dir)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(9L))
    // the plain tail (fresh, no feed option) refuses the vector version
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_dv_ck2").toString
    val ex = intercept[Exception] {
      val q = spark.readStream.format(fmt).option("pk", "pk").load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(ex.getMessage.contains("content-changing rewrite (delete)"),
      s"vector delete must classify content-changing, got: ${ex.getMessage}")
    // the change feed serves the deleted row exactly
    val feed = spark.read.format(fmt).option("pk", "pk")
      .option("changeFeed", "true").load(dir)
      .filter(col(TokenRangeSource.ChangeTypeCol) === "delete")
    val del = feed.collect()
    assert(del.length == 1 && del.head.getAs[Long]("pk") == 9L)
  }

  test("composite keys: deleteTuples mode=dv suppresses exactly the tuples") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_tup").toString
    spark.range(0, 60)
      .select((col("id") % 6).as("a"), (col("id") / 6).cast("long").as("b"),
        col("id").as("n"))
      .write.format(fmt).option("pk", "a,b").mode("overwrite").save(dir)
    TokenRangeOps.deleteTuples(spark, dir, Seq("a", "b"),
      Seq(Seq(2L, 3L), Seq(5L, 0L)))
    val t = spark.read.format(fmt).option("pk", "a,b").load(dir)
    assert(t.count() == 58L)
    assert(t.filter(col("a") === 2L && col("b") === 3L).count() == 0L)
    assert(t.filter(col("a") === 5L && col("b") === 0L).count() == 0L)
    assert(t.filter(col("a") === 2L && col("b") === 4L).count() == 1L)
  }

  test("a pk-less legacy table never takes the vector path (review r16: the silent brick)") {
    val s2 = spark; import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_legacy").toString
    // legacy layout: Spark's own committer, no manifest, NO recorded pk
    TokenLayout.writeTokenBucketed(
      (0L until 24L).map(i => (i, s"a$i")).toDF("pk", "v"), "pk", dir)
    assert(TokenRangeSource.recordedPk(dir).isEmpty)
    // a one-key delete rewrites (a vector would make every read —
    // including compaction — refuse for lack of the pk); the rewrite's
    // sink commit then RECORDS the pk, so later small deletes graduate
    // to the vector path legitimately
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(3L))
    assert(TokenRangeSource.dvBindings(dir).isEmpty,
      "no vector may publish without a recorded pk")
    val t = spark.read.format(fmt).option("pk", "pk").load(dir)
    assert(t.count() == 23L && t.filter(col("pk") === 3L).count() == 0L)
    assert(TokenRangeSource.recordedPk(dir).isDefined,
      "the cow rewrite records the pk — the table has graduated")
  }

  test("vector-only publishes carry bound buckets' segments by reference (no rewrite amplification)") {
    val dir = freshTable("segcarry")
    val mdir = new java.io.File(dir, "_manifests")
    def segs(): Set[String] =
      Option(new java.io.File(mdir, "segments").listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
    val before = segs()
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L))
    assert(segs() == before,
      "a vector-only publish must write NO new segment files — bound " +
        "buckets carry by reference, only validated against the base")
  }

  test("describeTable reports the merge-on-read debt (deletion_vectors)") {
    val dir = freshTable("desc")
    assert(TokenRangeOps.describeTable(dir)("deletion_vectors") == "0")
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L))
    val n = TokenRangeOps.describeTable(dir)("deletion_vectors").toInt
    assert(n >= 1, s"bindings must surface, got $n")
    TokenRangeOps.compact(spark, dir, "pk")
    assert(TokenRangeOps.describeTable(dir)("deletion_vectors") == "0",
      "compaction clears the debt")
  }

  test("MIXED grains on one file: key and position vectors compose (r17)") {
    import org.apache.spark.sql.SaveMode
    // a catalog mor table so SQL DML publishes POSITION vectors, while
    // deleteKeys publishes KEY vectors — both bound to the same files
    val wh = java.nio.file.Files.createTempDirectory("graft_dv_mixed").toString
    val cat = "graft_dv_mixed"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[TokenRangeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.ks")
    spark.sql(s"""CREATE TABLE $cat.ks.t (pk BIGINT, v STRING)
      TBLPROPERTIES('pk'='pk')""")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) FROM range(0, 64)")
    val path = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    val before = TokenRangeOps.liveFiles(path).toSet
    // position vector: SQL predicate DELETE (row-grain)
    spark.sql(s"DELETE FROM $cat.ks.t WHERE v = 'a7'")
    // key vector: whole-partition point delete through the ops surface
    TokenRangeOps.deleteKeys(spark, path, "pk", Seq(9L))
    assert(TokenRangeOps.liveFiles(path).toSet == before,
      "neither grain may rewrite or retire a data file")
    val grains = TokenRangeSource.dvBindings(path).map(_._2).distinct
    assert(grains.size == 2, s"two distinct vectors must bind, got $grains")
    // reads merge BOTH grains (scan, count, point lookups)
    val t = spark.sql(s"SELECT pk FROM $cat.ks.t").collect().map(_.getLong(0)).toSet
    assert(t.size == 62 && !t(7L) && !t(9L) && t(8L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.ks.t").head().getLong(0) == 62L)
    // rewrites merge both grains too: compaction applies and drops both
    TokenRangeOps.compact(spark, path, "pk")
    assert(TokenRangeSource.dvBindings(path).isEmpty)
    val t2 = spark.sql(s"SELECT pk FROM $cat.ks.t").collect().map(_.getLong(0)).toSet
    assert(t2 == t, "compaction must neither resurrect nor over-delete")
  }

  test("vector sweep: a file past the binding bound auto-compacts (the policy ACTS on the debt)") {
    val dir = freshTable("sweep")
    // a tight bound so the test drives the threshold crossing
    TokenRangeOps.setVectorCompaction(dir, 3)
    // three point deletes of keys in the SAME bucket accumulate three
    // bindings on that bucket's files; the third commit's sweep must
    // compact them — without any manual compact call
    val byBucket = (0L until 128L).groupBy(TokenLayout.bucketOfValue)
    val ks = byBucket.values.find(_.size >= 3).get.take(3)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(ks(0)))
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(ks(1)))
    assert(TokenRangeSource.dvBindings(dir).groupBy(_._1).values
      .exists(_.size == 2), "below the bound the debt accumulates")
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(ks(2)))
    assert(TokenRangeSource.dvBindings(dir).isEmpty,
      "the third commit's sweep must compact the bound files and clear " +
        "the bindings")
    assert(TokenRangeOps.describeTable(dir)("deletion_vectors") == "0",
      "the describeTable debt signal returns to 0")
    // the compaction applied the vectors, never resurrected
    val t = readAll(dir)
    assert(t.count() == 125L)
    assert(t.filter(col("pk").isin(ks.map(Long.box): _*)).count() == 0L)
    // selectivity: only the victim files rewrote — the sweep publishes
    // as #op compact, content-preserving, so the plain CDC tail still
    // serves the table (no content-changing refusal from maintenance)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dv_sw").toString
    val got = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format(fmt).option("pk", "pk").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got.addAndGet(b.count()); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(got.get() == 125L, s"tail over the swept history, got ${got.get()}")
  }

  test("ops rewrites over vector-bound files never resurrect (ckRange/expire read merged)") {
    val dir = freshTable("opsmrg", bound = Some(1L))
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(30L))
    // a COW delete of a DIFFERENT key in the same bucket (and of 1000,
    // which holds no row: two keys exceed the bound) rewrites the bound
    // file — the rewrite must consume the vector, not resurrect 30
    val sameBucketKey = (0L until 128L).find(k =>
      k != 30L && TokenLayout.bucketOfValue(k) == TokenLayout.bucketOfValue(30L)).get
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(sameBucketKey, 1000L))
    val t = readAll(dir)
    assert(t.filter(col("pk").isin(30L, sameBucketKey)).count() == 0L)
    assert(t.count() == 126L)
    // and the binding for the rewritten file dropped with its file
    val liveRels = liveRel(dir)
    assert(TokenRangeSource.dvBindings(dir).forall { case (d, _) => liveRels(d) },
      "no binding may dangle on a retired file")
  }
}
