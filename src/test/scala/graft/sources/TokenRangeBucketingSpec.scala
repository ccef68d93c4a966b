package graft.sources.connector

import graft.SparkSpec
import graft.sources.MessageStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.KeyGroupedPartitioning
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bucket-partitioned reads: a catalog table's scan reports
  * `bucket(16, pk)` partitioning when each planned partition is one
  * token bucket, and Spark then plans per-key operators with no
  * exchange. Checked here:
  *   - the catalog's `bucket` function is the sink's own routing hash;
  *   - the plan shape and Spark job count of the `MessageStore` reads;
  *   - the same rows with `spark.sql.sources.v2.bucketing.enabled` on
  *     and off;
  *   - the connector's parquet writer keeps the file mode and writes no
  *     `.crc` sidecar. */
class TokenRangeBucketingSpec extends SparkSpec {

  private val BucketingKey = "spark.sql.sources.v2.bucketing.enabled"

  private def withBucketing[A](on: Boolean)(f: => A): A = {
    val was = spark.conf.getOption(BucketingKey)
    spark.conf.set(BucketingKey, on.toString)
    try f
    finally was.fold(spark.conf.unset(BucketingKey))(spark.conf.set(BucketingKey, _))
  }

  private def catalog(tag: String): String = {
    val cat = s"graft_bk_${tag}_${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[TokenRangeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      java.nio.file.Files.createTempDirectory(s"graft_bk_$tag").toString)
    cat
  }

  private def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  private def scanPartitioning(df: DataFrame) =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.outputPartitioning
    }.getOrElse(fail("no batch scan in\n" + df.queryExecution.executedPlan))

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  test("bucket is TokenLayout's hash: negative longs, INT keys and non-ASCII text") {
    val cat = catalog("fn")
    val rng = new scala.util.Random(8L)
    val longs = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L) ++
      Seq.fill(200)(rng.nextLong()) ++ Seq.fill(50)(-rng.nextInt(1000000).toLong)
    val ints = Seq(Int.MinValue, Int.MaxValue, -1, 0) ++ Seq.fill(200)(rng.nextInt())
    val texts = Seq("", "a", "ü", "Ünïcödé", "日本語のキー", "emoji 🙂", "\u0000x",
      "ß" * 40) ++ Seq.fill(200)(new String(Array.fill(1 + rng.nextInt(12))(
        (0x20 + rng.nextInt(0x2fff)).toChar)))
    val s2 = spark; import s2.implicits._
    def viaSql(df: DataFrame): Seq[Int] = {
      df.createOrReplaceTempView("bk_keys")
      spark.sql(s"SELECT $cat.bucket(16, k) FROM bk_keys").collect().map(_.getInt(0)).toSeq
    }
    assert(viaSql(longs.toDF("k")) == longs.map(TokenLayout.bucketOfValue))
    assert(viaSql(ints.toDF("k")) == ints.map(i => TokenLayout.bucketOfValue(i.toLong)))
    assert(viaSql(texts.toDF("k")) == texts.map(TokenLayout.bucketOfStringValue))
    assert(spark.sql(s"SELECT $cat.bucket(16, CAST(NULL AS BIGINT))").head.isNullAt(0))
    assert(intercept[Exception](
      spark.sql(s"SELECT $cat.bucket(8, 1L)").collect()).getMessage.contains("16 buckets"))
    assert(intercept[Exception](
      spark.sql(s"SELECT $cat.bucket(16, 1.5D)")).getMessage.contains("BIGINT/INT/TEXT"))
    spark.catalog.dropTempView("bk_keys")
  }

  test("plan shape: messages(channel) and user(name) run one job with no Exchange") {
    val ks = s"ks_bk_${System.nanoTime()}"
    val store = new MessageStore(spark, ks)
    store.createKeyspace(); store.createTables()
    try {
      store.insertUsers((0 until 40).map(i => (s"u$i", s"user$i", s"user$i@x.io", "pw")))
      store.insertUsers(Seq(("u99", "user7", "user7@new.io", "pw")))
      store.insertMessages((0 until 30).map(i => (i % 6L, s"u$i", s"m$i")))
      store.insertMessages(Seq((3L, "u1", "latest in 3")))

      val channel = store.messages(3L)
      assert(!hasExchange(channel), channel.queryExecution.executedPlan.toString)
      assert(jobsOf(channel.collect()) == 1)
      assert(channel.collect().head.getAs[String]("message") == "latest in 3")

      val user = store.user("user7")
      assert(!hasExchange(user), user.queryExecution.executedPlan.toString)
      assert(jobsOf(user.collect()) == 1)
      assert(user.collect().map(_.getAs[String]("email")).toSeq == Seq("user7@new.io"))
      // a key no file holds keeps one empty partition of its bucket, so
      // the scan still reports the key grouping
      val nobody = store.user("nobody")
      assert(!hasExchange(nobody), nobody.queryExecution.executedPlan.toString)
      assert(jobsOf(nobody.collect()) == 1)
      assert(nobody.collect().isEmpty)

      // the pruned catalog read itself reports the key grouping
      val pruned = spark.table(store.tableName("users")).filter(col("username") === "user7")
      assert(scanPartitioning(pruned).isInstanceOf[KeyGroupedPartitioning])

      // listUsers keeps its exchange here: 40 users fill more than 4
      // buckets, so each of the default 4 splits holds several buckets
      // and the scan reports no partitioning
      assert(hasExchange(store.listUsers()))
      // compactUsers keeps its exchange: it reads the snapshot by path
      // (TokenRangeOps.readTableFiles), and a path relation has no
      // function catalog to bind `bucket` through
      val byPath = spark.read.format(classOf[TokenRangeSource].getName)
        .option("pk", "username").load(store.tablePath("users"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("username").orderBy(desc("write_seq"))))
      assert(hasExchange(byPath))
    } finally store.dropKeyspace()

    // a keyspace whose users fill at most 4 buckets is bucket-pure under
    // 4 splits: there listUsers loses its exchange too
    val ks2 = s"ks_bk2_${System.nanoTime()}"
    val small = new MessageStore(spark, ks2)
    small.createKeyspace(); small.createTables()
    try {
      small.insertUsers(Seq(("u1", "alice", "a@x.io", "pw"), ("u2", "bob", "b@x.io", "pw")))
      assert(!hasExchange(small.listUsers()), small.listUsers().queryExecution.executedPlan.toString)
      assert(small.listUsers().count() == 2)
      // a name whose bucket holds no file at all plans that bucket as
      // one empty partition, so the read keeps the key grouping
      val filled = Set("alice", "bob").map(TokenLayout.bucketOfStringValue)
      val stranger = Iterator.from(0).map(i => s"stranger$i")
        .find(n => !filled(TokenLayout.bucketOfStringValue(n))).get
      val absent = small.user(stranger)
      assert(!hasExchange(absent), absent.queryExecution.executedPlan.toString)
      assert(jobsOf(absent.collect()) == 1)
      assert(absent.collect().isEmpty)
    } finally small.dropKeyspace()
  }

  test("differential: MessageStore reads and catalog pk queries agree with v2 bucketing on and off") {
    val ks = s"ks_bkd_${System.nanoTime()}"
    val store = new MessageStore(spark, ks)
    store.createKeyspace(); store.createTables()
    val cat = catalog("diff")
    try {
      val rng = new scala.util.Random(31L)
      store.insertUsers((0 until 30).map(i => (s"u$i", s"name${i % 17}", s"e$i", s"p$i")))
      store.insertUsers((0 until 10).map(i => (s"v$i", s"name${rng.nextInt(20)}", s"f$i", "q")))
      store.insertMessages((0 until 40).map(i => (rng.nextInt(9).toLong - 4L, s"a$i", s"t$i")))
      store.insertMessages((0 until 5).map(i => (2L, s"b$i", s"later $i")))

      spark.sql(s"CREATE NAMESPACE $cat.ks")
      spark.sql(s"CREATE TABLE $cat.ks.l (k BIGINT, v BIGINT) TBLPROPERTIES('pk'='k')")
      spark.sql(s"CREATE TABLE $cat.ks.r (k BIGINT, w STRING) TBLPROPERTIES('pk'='k')")
      spark.sql(s"CREATE TABLE $cat.ks.s (k STRING, v INT) TBLPROPERTIES('pk'='k')")
      spark.sql(s"INSERT INTO $cat.ks.l SELECT id % 50 - 25, id FROM range(400)")
      spark.sql(s"INSERT INTO $cat.ks.r SELECT id - 20, CAST(id AS STRING) FROM range(60)")
      spark.sql(s"INSERT INTO $cat.ks.s SELECT concat('k', id % 33), CAST(id AS INT) FROM range(300)")
      // 16 splits: one bucket per partition, so the full scans are
      // bucket-pure and report the partitioning
      def t(n: String) = spark.read.option("splits", "16").table(s"$cat.ks.$n")
      val queries: Seq[(String, () => DataFrame)] = Seq(
        "messages(2)" -> (() => store.messages(2L)),
        "messages(-4)" -> (() => store.messages(-4L)),
        "user" -> (() => store.user("name3")),
        "listUsers" -> (() => store.listUsers()),
        "latestUsers" -> (() => store.latestUsers()),
        "allMessages" -> (() => store.allMessages()),
        "group by pk" -> (() => t("l").groupBy("k").agg(sum("v"), count(lit(1)))),
        "group by text pk" -> (() => t("s").groupBy("k").agg(max("v"))),
        "window by pk" -> (() => t("l").withColumn("rn",
          row_number().over(Window.partitionBy("k").orderBy(desc("v")))).filter(col("rn") <= 2)),
        "join on pk" -> (() => t("l").join(t("r"), "k")),
        "pruned IN group by" -> (() => spark.table(s"$cat.ks.l")
          .filter(col("k").isin(-3L, 4L, 11L)).groupBy("k").agg(sum("v"))))
      val on = withBucketing(true)(queries.map { case (n, q) => n -> multiset(q()) })
      val off = withBucketing(false)(queries.map { case (n, q) => n -> multiset(q()) })
      on.zip(off).foreach { case ((n, a), (_, b)) =>
        assert(a == b, s"$n: bucketing on and off disagree")
        assert(a.nonEmpty, s"$n read no rows")
      }
      // the comparison crossed both plan shapes
      withBucketing(true) {
        Seq("group by pk", "window by pk", "join on pk", "group by text pk",
          "pruned IN group by").foreach { n =>
          val q = queries.toMap.apply(n)()
          assert(!hasExchange(q), s"$n with bucketing on:\n${q.queryExecution.executedPlan}")
        }
      }
      withBucketing(false) {
        assert(hasExchange(t("l").groupBy("k").agg(sum("v"))))
        assert(hasExchange(store.user("name3")))
      }
    } finally store.dropKeyspace()
  }

  test("connector parquet writes keep mode rw-r--r-- and write no .crc sidecar") {
    def mode(f: java.io.File) = java.nio.file.attribute.PosixFilePermissions.toString(
      java.nio.file.Files.getPosixFilePermissions(f.toPath))
    // the create helper itself: plain NIO streams, so no sidecar beside
    // the file, and the mode is the umask's
    val tmp = java.nio.file.Files.createTempDirectory("graft_bk_create").toFile
    val f = new java.io.File(tmp, "one.parquet")
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required int64 x; }")
    val conf = new org.apache.hadoop.conf.Configuration(TokenRangeSource.hadoopConf)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(TokenRangeSource.createParquet(f.getPath)).withConf(conf).withType(schema).build()
    w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("x", 7L))
    w.close()
    assert(mode(f) == "rw-r--r--")
    assert(tmp.list().toSeq == Seq("one.parquet"), "a checksum sidecar was written")
    assert(TokenRangeSource.withParquet(f.getPath)(_.getRecordCount) == 1)
    // the same for every file the sink publishes (commit moves the data
    // file out of staging; the mode travels with it)
    val dir = java.nio.file.Files.createTempDirectory("graft_bk_mode").toString
    val s2 = spark; import s2.implicits._
    (0L until 100L).map(i => (i % 13, i)).toDF("k", "v")
      .write.format(classOf[TokenRangeSource].getName).option("pk", "k")
      .mode("append").save(dir)
    val files = TokenRangeOps.liveFiles(dir).map(new java.io.File(dir, _))
    assert(files.nonEmpty)
    files.foreach(f => assert(mode(f) == "rw-r--r--", f.toString))
    assert(spark.read.format(classOf[TokenRangeSource].getName).option("pk", "k")
      .load(dir).count() == 100)
  }
}
