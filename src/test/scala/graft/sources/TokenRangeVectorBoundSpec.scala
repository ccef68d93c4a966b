package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One vector-or-rewrite rule for every row-level writer
  * ([[TokenRangeOps.publishesVector]]): a statement at the table's
  * recorded `dml.fallback_rows` bound binds a deletion vector and keeps
  * every live file, and a statement one row or key above it rewrites the
  * files it touches and binds nothing. Each writer sizes its statement
  * from what it already knows: keys for the key deletes, stored rows of
  * the split files for the range delete and TTL expiry, incoming rows
  * for upsert, tombstoned rows for SQL DML, distinct keys for an
  * `insert='upsert'` INSERT. */
class TokenRangeVectorBoundSpec extends SparkSpec {

  private val fmt = classOf[TokenRangeSource].getName
  private val Bound = 2L

  /** A writer under test: `create(n)` makes a table whose recorded bound
    * is [[Bound]] and returns its path, `write(path, n)` runs a statement
    * of `n` rows or keys against it, and `left(n)` is the row count the
    * table then holds. */
  private final class Writer(val name: String, val create: Int => String,
      val write: (String, Int) => Unit, val left: Int => Long)

  private def pathTable(ddl: String, pk: String, rows: DataFrame,
      ck: Option[String] = None): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bound").toString
    TokenRangeSource.recordPk(dir, pk, schemaDdl = Some(ddl), morFallbackRows = Some(Bound))
    rows.write.format(fmt).option("pk", pk).options(ck.map("ck" -> _).toMap)
      .mode("append").save(dir)
    dir
  }

  private def keyed(n: Int): DataFrame =
    spark.range(0, n).select(col("id").as("pk"), concat(lit("a"), col("id")).as("v"))

  private lazy val (cat, warehouse) = {
    val c = s"graft_bound_${System.nanoTime()}"
    val wh = java.nio.file.Files.createTempDirectory("graft_bound_wh").toString
    spark.conf.set(s"spark.sql.catalog.$c", classOf[TokenRangeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $c.ks")
    (c, wh)
  }

  /** A 64-row catalog table with the bound and `props`; returns its path
    * (the table is named after its last path element). */
  private def catalogTable(props: String): String = {
    val name = s"t${System.nanoTime()}"
    spark.sql(s"""CREATE TABLE $cat.ks.$name (pk BIGINT, v STRING)
      TBLPROPERTIES('pk'='pk', 'dml.fallback_rows'='$Bound'$props)""")
    spark.sql(s"INSERT INTO $cat.ks.$name SELECT id, concat('a', id) FROM range(0, 64)")
    new java.io.File(new java.io.File(warehouse, "ks"), name).getAbsolutePath
  }

  private def tableOf(path: String): String = s"$cat.ks.${new java.io.File(path).getName}"

  private val writers = Seq(
    new Writer("deleteKeys",
      _ => pathTable("pk BIGINT, v STRING", "pk", keyed(64)),
      (dir, n) => TokenRangeOps.deleteKeys(spark, dir, "pk", (0 until n).map(_.toLong)),
      n => 64L - n),
    new Writer("deleteTuples",
      _ => pathTable("a BIGINT, b BIGINT, v STRING", "a,b", spark.range(0, 64)
        .select((col("id") % 8).as("a"), (col("id") / 8).cast("long").as("b"),
          concat(lit("a"), col("id")).as("v"))),
      (dir, n) => TokenRangeOps.deleteTuples(spark, dir, Seq("a", "b"),
        (0 until n).map(i => Seq(i.toLong, 0L))),
      n => 64L - n),
    // one file of `n` rows of one key; the range takes its first row, so
    // the file splits and its `n` stored rows size the statement
    new Writer("deleteCkRange",
      n => pathTable("pk BIGINT, ck BIGINT, v STRING", "pk", spark.range(0, n, 1, 1)
        .select(lit(1L).as("pk"), (col("id") * 10).as("ck"), lit("r").as("v")),
        ck = Some("ck")),
      (dir, _) => TokenRangeOps.deleteCkRange(spark, dir, "pk", 1L, 0L, 5L),
      n => n - 1L),
    // one file of `n` rows of one key; the cutoff expires its first row
    new Writer("expire",
      n => pathTable("pk BIGINT, ts TIMESTAMP, v STRING", "pk", spark.range(0, n, 1, 1)
        .select(lit(1L).as("pk"),
          timestamp_micros(when(col("id") === 0L, 1000L).otherwise(col("id") + 9000L)).as("ts"),
          lit("r").as("v"))),
      (dir, _) => TokenRangeOps.expire(spark, dir, "pk", "ts", 5000L),
      n => n - 1L),
    new Writer("upsert",
      _ => pathTable("pk BIGINT, v STRING", "pk", keyed(64)),
      (dir, n) => TokenRangeOps.upsert(spark, dir, "pk",
        keyed(n).select(col("pk"), lit("new").as("v"))),
      _ => 64L),
    new Writer("SQL DELETE",
      _ => catalogTable(""),
      (dir, n) => spark.sql(s"DELETE FROM ${tableOf(dir)} WHERE v IN " +
        (0 until n).map(i => s"'a$i'").mkString("(", ", ", ")")),
      n => 64L - n),
    new Writer("insert='upsert' INSERT",
      _ => catalogTable(", 'insert'='upsert'"),
      (dir, n) => spark.sql(s"INSERT INTO ${tableOf(dir)} VALUES " +
        (0 until n).map(i => s"($i, 'new')").mkString(", ")),
      _ => 64L))

  private def count(dir: String): Long =
    spark.read.format(fmt).option("pk", TokenRangeSource.recordedPk(dir).get)
      .load(dir).count()

  writers.foreach { w =>
    test(s"${w.name}: a statement at the bound binds a vector; one above it rewrites") {
      val n = Bound.toInt
      val atBound = w.create(n)
      val before = TokenRangeOps.liveFiles(atBound).toSet
      w.write(atBound, n)
      assert(before.subsetOf(TokenRangeOps.liveFiles(atBound).toSet),
        s"${w.name} of $n at the bound must keep every live file")
      assert(TokenRangeOps.deletionVectors(atBound).nonEmpty,
        s"${w.name} of $n at the bound must bind a vector")
      assert(count(atBound) == w.left(n))

      val above = w.create(n + 1)
      val before2 = TokenRangeOps.liveFiles(above).toSet
      w.write(above, n + 1)
      assert(!before2.subsetOf(TokenRangeOps.liveFiles(above).toSet),
        s"${w.name} of ${n + 1} above the bound must retire the files it touches")
      assert(TokenRangeOps.deletionVectors(above).isEmpty,
        s"${w.name} of ${n + 1} above the bound must bind nothing")
      assert(count(above) == w.left(n + 1))
    }
  }
}
