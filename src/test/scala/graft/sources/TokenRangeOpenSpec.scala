package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The task reader opens each data file once and each bound vector once
  * per reader, and every file it opens is closed again: on a normal end,
  * on a partly read file, and when resolving a file's vectors fails. */
class TokenRangeOpenSpec extends SparkSpec {

  private val fmt = classOf[TokenRangeSource].getName

  private def opens = TokenRangeSource.parquetOpens.get()
  private def closes = TokenRangeSource.parquetCloses.get()

  private def freshTable(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_open_$tag").toString
    (0 until 3).foreach { r =>
      spark.range(r * 64, (r + 1) * 64).coalesce(1)
        .select(col("id").as("pk"), concat(lit("u"), col("id")).as("v"))
        .write.format(fmt).option("pk", "pk")
        .mode(if (r == 0) "overwrite" else "append").save(dir)
    }
    dir
  }

  private def scan(dir: String, splits: Int = 4) =
    spark.read.format(fmt).option("pk", "pk").option("splits", splits.toString).load(dir)

  /** The parquet files of every vector bound in `dir`. */
  private def vectorFiles(dir: String): Seq[String] =
    TokenRangeSource.dvBindings(dir).map(_._2).distinct
      .flatMap(dv => TokenRangeSource.parquetFiles(new java.io.File(dir, dv)))

  test("an unfiltered scan opens each live file exactly once, and every open is closed") {
    val dir = freshTable("once")
    val n = TokenRangeSource.visibleRelFiles(dir).size
    assert(n > 3)
    val (o0, c0) = (opens, closes)
    assert(scan(dir).collect().length == 192)
    val o1 = opens
    assert(o1 - o0 == n, s"first scan: ${o1 - o0} opens for $n files")
    assert(scan(dir).collect().length == 192)
    val o2 = opens
    assert(o2 - o1 == n, s"second scan: ${o2 - o1} opens for $n files")
    assert(closes - c0 == o2 - o0, "every opened file must be closed")
  }

  test("a scan of vector-bound files opens each sidecar at most once per reader") {
    val dir = freshTable("dv")
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L, 40L, 99L, 150L), mode = "dv")
    val n = TokenRangeSource.visibleRelFiles(dir).size
    val vs = vectorFiles(dir)
    assert(vs.nonEmpty)
    // one reader over every file: the data files plus each sidecar once
    val (o0, c0) = (opens, closes)
    assert(scan(dir, splits = 1).collect().length == 188)
    assert(opens - o0 == n + vs.size,
      s"${opens - o0} opens for $n data files and ${vs.size} vector files")
    // several readers: still at most once per reader
    val o1 = opens
    val parts = scan(dir).rdd.getNumPartitions
    assert(scan(dir).collect().length == 188)
    assert(opens - o1 <= n + parts * vs.size)
    assert(closes - c0 == opens - o0, "every opened file must be closed")
  }

  test("a partly read file and a failed vector resolution leave no file open") {
    val dir = freshTable("leak")
    val (o0, c0) = (opens, closes)
    assert(scan(dir, splits = 1).limit(3).collect().length == 3)
    assert(opens > o0 && closes - c0 == opens - o0,
      "a reader stopped partway through a file must close it")
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L), mode = "dv")
    // rename the sidecar's pk column: a partial-pk vector has no defined
    // grain, so the read must refuse it
    TokenRangeSource.dvBindings(dir).map(_._2).distinct.foreach { rel =>
      import java.nio.file._
      val target = Paths.get(dir, rel)
      val tmp = Files.createTempDirectory("graft_open_corrupt").toString
      spark.read.parquet(target.toString).withColumnRenamed("pk", "qk")
        .write.mode("overwrite").parquet(tmp)
      Files.walk(target).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      Files.createDirectories(target)
      Files.walk(Paths.get(tmp)).filter(p => Files.isRegularFile(p)).forEach(p =>
        Files.copy(p, target.resolve(p.getFileName.toString)))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val (o1, c1) = (opens, closes)
    val e = intercept[Exception](scan(dir, splits = 1).collect())
    assert(messages(e).exists(_.contains("lacks pk column")),
      s"expected the partial-pk refusal, got: ${messages(e).mkString(" | ")}")
    assert(opens > o1 && closes - c1 == opens - o1,
      s"${opens - o1} opens against ${closes - c1} closes after the failed read")
  }
}
