package graft.sources.connector

import graft.SparkSpec
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.Type
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Differential check of the task reader over every file shape one table
  * can mix: a legacy Spark-committer file (`required` columns, several
  * row groups) with a position vector bound to a row of its second row
  * group, sink files (`optional` columns), a case-drifted column name, a
  * pre-ALTER file that lacks a column, and a key-grain vector. Every
  * projection, the empty-projection count and the `_file`/`_pos` columns
  * must equal the rows `spark.read.parquet` returns per live file minus
  * the known deletions; `_pos` counts stored rows across row groups. The
  * row-level verbs read the files they rewrite through the same reader,
  * so each of them over this table must leave exactly the modelled rows. */
class TokenRangeReaderShapeSpec extends SparkSpec {

  private val fmt = classOf[TokenRangeSource].getName
  private val cols = Seq("pk", "ck", "v", "extra", TokenRangeSource.FileCol,
    TokenRangeSource.PosCol)

  private val RewriteBound = 400L

  /** The mixed-shape table: its path and the legacy file's rel. */
  private def mixedTable(tag: String): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_reader_$tag").toString
    // legacy layout written by Spark's own committer: non-nullable columns
    // land `required`, and a tiny block size cuts the file into row groups
    // of about 100 rows
    spark.range(0, 400, 1, 1)
      .select(lit(1L).as("pk"), col("id").as("ck"), concat(lit("L"), col("id")).as("v"))
      .withColumn("tb", TokenLayout.bucketOfColumn(col("pk"), LongType))
      .write.mode("overwrite").option("parquet.block.size", "1")
      .partitionBy("tb").parquet(dir)
    val legacy = TokenRangeSource.visibleFiles(dir).map(_._2)
    assert(legacy.size == 1)
    assert(TokenRangeSource.fileLongStats(legacy.head).size >= 2,
      "the legacy file must hold several row groups")
    // the vector bound is the legacy file's 400 stored rows: a range
    // delete splitting it binds a vector, a 401-row or 401-key statement
    // rewrites
    TokenRangeSource.recordPk(dir, "pk",
      schemaDdl = TokenRangeSource.storedSchema(dir).map(_.toDDL),
      morFallbackRows = Some(RewriteBound))
    // sink appends (`optional` columns); the first pins the legacy listing
    spark.range(0, 40)
      .select((col("id") % 4 + 1).as("pk"), (col("id") * 7 % 50 + 1000).as("ck"),
        concat(lit("S"), col("id")).as("v"))
      .write.format(fmt).option("pk", "pk").option("ck", "ck").mode("append").save(dir)
    // a case-drifted column name
    spark.range(40, 60)
      .select((col("id") % 4 + 1).as("pk"), (col("id") + 2000).as("ck"),
        concat(lit("D"), col("id")).as("V"))
      .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    // every file so far predates the column
    TokenRangeOps.addColumn(dir, "extra STRING")
    spark.range(60, 80)
      .select((col("id") % 4 + 1).as("pk"), (col("id") + 3000).as("ck"),
        concat(lit("A"), col("id")).as("v"), concat(lit("x"), col("id")).as("extra"))
      .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    // a key-grain vector, then a position-grain one: the range straddles
    // the legacy file's second row group, so that file is split
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(3L))
    TokenRangeOps.deleteCkRange(spark, dir, "pk", 1L, 150L, 160L)
    val bound = TokenRangeSource.dvBindings(dir).map(_._1).toSet
    val legacyRel = TokenRangeSource.visibleRelFiles(dir)
      .map(_._2).find(r => legacy.head.endsWith(r)).get
    assert(bound(legacyRel), "the range delete must bind a vector to the legacy file")
    (dir, legacyRel)
  }

  private def table(dir: String) = spark.read.format(fmt).option("pk", "pk").load(dir)

  private def show(r: Seq[Any]): String = r.map(String.valueOf).mkString("|")

  test("every projection over mixed file shapes equals the per-file parquet rows minus the deletions") {
    val (dir, legacyRel) = mixedTable("shapes")
    // expected: each live file's rows in stored order, columns matched
    // case-insensitively, absent ones NULL, deleted rows dropped
    val perFile = TokenRangeSource.visibleFiles(dir).map { case (_, abs) =>
      val f = new java.io.File(abs)
      (s"${f.getParentFile.getName}/${f.getName}", spark.read.parquet(abs))
    }
    // the shapes this spec exists for are all present (read off the
    // footers: Spark reports every file column as nullable)
    val schemas = TokenRangeSource.visibleFiles(dir).map { case (_, abs) =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(abs), spark.sparkContext.hadoopConfiguration))
      try rd.getFileMetaData.getSchema finally rd.close()
    }
    def repetition(r: Type.Repetition) =
      schemas.exists(s => s.getType(s.getFieldIndex("pk")).isRepetition(r))
    assert(repetition(Type.Repetition.REQUIRED), "a `required` file")
    assert(repetition(Type.Repetition.OPTIONAL), "an `optional` file")
    assert(schemas.exists(_.containsField("V")), "a case-drifted file")
    assert(schemas.exists(!_.containsField("extra")), "a pre-ALTER file")
    val expected: Seq[Seq[Any]] = perFile.flatMap { case (rel, df) =>
      val names = df.columns.toSeq
      df.collect().toSeq.zipWithIndex.map { case (r, pos) =>
        def get(c: String): Any =
          names.find(_.equalsIgnoreCase(c)).map(n => r.get(r.fieldIndex(n))).orNull
        Seq(get("pk"), get("ck"), get("v"), get("extra"), rel, pos.toLong)
      }
    }.filterNot { r =>
      val pk = r(0).asInstanceOf[Long]; val ck = r(1).asInstanceOf[Long]
      pk == 3L || (pk == 1L && ck >= 150L && ck < 160L)
    }
    assert(expected.size == 400 + 80 - 10 - 20)
    assert(expected.exists(r => r(4) == legacyRel && r(5) == 160L),
      "the row after the deleted range keeps its stored ordinal")

    val t = table(dir)
    assert(t.count() == expected.size, "empty-projection count")
    (1 to cols.size).flatMap(cols.indices.combinations).foreach { idx =>
      val got = t.select(idx.map(i => col(cols(i))): _*).collect()
        .map((r: Row) => show(r.toSeq)).sorted.toSeq
      val want = expected.map(r => show(idx.map(r))).sorted
      assert(got == want, s"projection ${idx.map(cols).mkString(",")}: " +
        s"table-only ${got.diff(want).take(5)}, expected-only ${want.diff(got).take(5)}")
    }
  }

  test("row-level rewrites over mixed file shapes leave exactly the modelled rows") {
    // keys sharing a bucket with `pk` but holding no row: a rewrite keyed
    // on them reads and rewrites every file of that bucket, all
    // survivors (an upsert of at most 128 keys rewrites only the files
    // whose bloom or dictionary admits one of them, so it draws more)
    def sameBucket(pk: Long): Iterator[Long] = Iterator.from(5).map(_.toLong)
      .filter(k => TokenLayout.bucketOfValue(k) == TokenLayout.bucketOfValue(pk))
    // each verb runs on a fresh table; bucket(1) holds every file shape and
    // the legacy file's position vector, bucket(3) the key vector. The
    // model is the table's rows before the verb, which the test above
    // checks against the files themselves.
    // statements one row or key past the table's bound rewrite: the
    // upsert's 400 rows of absent keys plus one row, the delete's absent
    // keys beside pk 2
    val upRows = sameBucket(1L).take(RewriteBound.toInt).toSeq.zipWithIndex
      .map { case (k, i) => (k, 5000L + i, s"u$i") } :+ ((sameBucket(3L).next(), 6L, "u3"))
    val upFrame = {
      val s2 = spark; import s2.implicits._
      upRows.toDF("pk", "ck", "v").withColumn("extra", concat(lit("x"), col("v")))
    }
    val absentKeys = 10000L until 10000L + RewriteBound - 1L
    val verbs: Seq[(String, String => Unit, Seq[Seq[Any]] => Seq[Seq[Any]])] = Seq(
      ("copy-on-write upsert", dir => TokenRangeOps.upsert(spark, dir, "pk", upFrame),
        m => m ++ upRows.map { case (pk, ck, v) => Seq(pk, ck, v, s"x$v") }),
      ("copy-on-write deleteKeys", dir => TokenRangeOps.deleteKeys(spark, dir, "pk",
          Seq(sameBucket(1L).next(), 2L) ++ absentKeys),
        m => m.filterNot(_.head == 2L)),
      ("dv deleteCkRange split", dir =>
          TokenRangeOps.deleteCkRange(spark, dir, "pk", 1L, 200L, 210L),
        m => m.filterNot(r => r.head == 1L &&
          r(1).asInstanceOf[Long] >= 200L && r(1).asInstanceOf[Long] < 210L)),
      ("compactVectors", dir => TokenRangeOps.compactVectors(spark, dir), m => m))
    verbs.foreach { case (what, verb, model) =>
      val (dir, legacyRel) = mixedTable(what.filter(_.isLetter))
      def rows() = table(dir).select("pk", "ck", "v", "extra").collect().toSeq
        .map((r: Row) => r.toSeq)
      val want = model(rows()).map(show).sorted
      val before = TokenRangeOps.liveFiles(dir).toSet
      verb(dir)
      val live = TokenRangeOps.liveFiles(dir).toSet
      if (what.startsWith("dv"))
        assert(live == before && TokenRangeSource.dvBindings(dir).count(_._1 == legacyRel) == 2,
          "the range split binds a second vector to the legacy file, rewriting nothing")
      else assert(!live(legacyRel), s"$what must rewrite the legacy file")
      if (what == "compactVectors")
        assert(TokenRangeSource.dvBindings(dir).isEmpty)
      val got = rows().map(show).sorted
      assert(got == want, s"$what: table-only ${got.diff(want).take(5)}, " +
        s"expected-only ${want.diff(got).take(5)}")
    }
  }

  test("the rewrite read serves its pinned version's vectors, not the current ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reader_pin").toString
    spark.range(0, 64).select(col("id").as("pk"), concat(lit("v"), col("id")).as("v"))
      .write.format(fmt).option("pk", "pk").mode("overwrite").save(dir)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(1L))
    val pinned = TokenRangeSource.currentVersion(dir)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(2L))
    val rels = TokenRangeOps.liveFiles(dir)
    def keys(v: Option[Int]) = TokenRangeOps.readTableFiles(spark, dir, rels, v)
      .select("pk").collect().map(_.getLong(0)).toSet
    assert(keys(pinned) == (0L until 64L).toSet - 1L)
    assert(keys(TokenRangeSource.currentVersion(dir)) == (0L until 64L).toSet - 1L - 2L)
  }
}
