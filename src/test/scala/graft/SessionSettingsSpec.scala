package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** The configuration Bench times is the configuration Verify checks:
  * every entry returns the same rows under GraftSession's settings (AQE,
  * the 64 MB broadcast threshold, partial-key co-partitioning, parquet
  * aggregate pushdown) as under Verify's plain-session settings. */
class SessionSettingsSpec extends SparkSpec {

  /** A same-JVM session with Verify's SQL settings and every other SQL
    * setting of GraftSession back at Spark's default. Static settings
    * (the codegen cache size, the warehouse dir) cannot differ per
    * session; none of them touches a result. */
  private def verifySession(): SparkSession = {
    val s = spark.newSession()
    for (k <- GraftSession.sqlSettings(1).keys
         if !Verify.sqlSettings.contains(k) && !SQLConf.isStaticConfigKey(k))
      s.conf.unset(k)
    for ((k, v) <- Verify.sqlSettings) s.conf.set(k, v.toString)
    s
  }

  /** One cell in the exact compare tools/check_oracle.py makes: NaN
    * equals NaN, -0.0 equals 0.0, nested values compare by content. */
  private def cell(v: Any): Any = v match {
    case d: Double if d.isNaN => "NaN"
    case d: Double => d + 0.0
    case f: Float if f.isNaN => "NaN"
    case f: Float => f + 0.0f
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(cell)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => cell(k) -> cell(x) }.toMap
    case s: scala.collection.Seq[_] => s.map(cell)
    case x => x
  }

  /** Columns sorted by name with their types, and the rows as a multiset. */
  private def result(df: DataFrame): (Seq[String], Map[Seq[Any], Int]) = {
    val order = df.schema.fields.indices.sortBy(i => df.schema.fields(i).name)
    val cols = order.map(i => s"${df.schema.fields(i).name}:${df.schema.fields(i).dataType}")
    val rows = df.collect().toSeq.map(r => order.map(i => cell(r.get(i))))
    (cols, rows.groupBy(identity).map { case (k, v) => k -> v.size })
  }

  test("every entry returns the same rows under Verify's settings as under GraftSession's") {
    val plain = verifySession()
    assert(plain.conf.get("spark.sql.autoBroadcastJoinThreshold") !=
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    // the oracle runs the vector kernels too: no optimizer rule puts them
    // in the plan
    val bf = SparkEntry.queries("ann_bruteforce_topk")(plain, sf)
      .queryExecution.optimizedPlan.toString()
    assert(bf.contains("graft_dot("), "ann_bruteforce_topk plan:\n" + bf.take(800))
    val t0 = System.nanoTime()
    val diffs = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val tuned = result(fn(spark, sf))
      val verified =
        try {
          SparkSession.setActiveSession(plain)
          result(fn(plain, sf))
        } finally SparkSession.setActiveSession(spark)
      if (tuned == verified) None
      else Some(s"$name: columns ${tuned._1} vs ${verified._1}, " +
        s"${tuned._2.values.sum} vs ${verified._2.values.sum} rows, " +
        s"${(tuned._2.toSet diff verified._2.toSet).size} distinct rows differ in count")
    }
    info(f"${SparkEntry.queries.size} entries compared in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }
}
