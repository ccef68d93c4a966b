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
  * the known deletions; `_pos` counts stored rows across row groups. */
class TokenRangeReaderShapeSpec extends SparkSpec {

  private val fmt = classOf[TokenRangeSource].getName
  private val cols = Seq("pk", "ck", "v", "extra", TokenRangeSource.FileCol,
    TokenRangeSource.PosCol)

  test("every projection over mixed file shapes equals the per-file parquet rows minus the deletions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reader_shapes").toString
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
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(3L), mode = "dv")
    TokenRangeOps.deleteCkRange(spark, dir, "pk", 1L, 150L, 160L, mode = "dv")
    val bound = TokenRangeSource.dvBindings(dir).map(_._1).toSet
    val legacyRel = TokenRangeSource.visibleRelFiles(dir)
      .map(_._2).find(r => legacy.head.endsWith(r)).get
    assert(bound(legacyRel), "the range delete must bind a vector to the legacy file")

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

    val t = spark.read.format(fmt).option("pk", "pk").load(dir)
    assert(t.count() == expected.size, "empty-projection count")
    def show(r: Seq[Any]): String = r.map(String.valueOf).mkString("|")
    (1 to cols.size).flatMap(cols.indices.combinations).foreach { idx =>
      val got = t.select(idx.map(i => col(cols(i))): _*).collect()
        .map((r: Row) => show(r.toSeq)).sorted.toSeq
      val want = expected.map(r => show(idx.map(r))).sorted
      assert(got == want, s"projection ${idx.map(cols).mkString(",")}: " +
        s"table-only ${got.diff(want).take(5)}, expected-only ${want.diff(got).take(5)}")
    }
  }
}
