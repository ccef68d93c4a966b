package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * whole `sbt test` run fast). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"
  // the driver's correctness scale — for specs whose fixture partition is
  // empty at sf0.001
  val sf01: String = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
  def sf01: String = TestSpark.sf01

  /** Driver-side replica of TextFunctions.md5Int (first 15 md5 hex chars
    * as a 60-bit long) — ONE copy for every spec's sampling replays, so a
    * width/semantics change to the engine helper breaks tests here
    * instead of silently pinning stale replicas. */
  def md5IntLocal(t: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** Spark jobs `f` starts. Listener events arrive in order, so once a
    * sentinel job's start is seen every job of `f` has been counted. */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${System.nanoTime()}"
    val sentinel = s"$group-end"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.contains(sentinel), "the sentinel job's start never arrived")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(l)
  }
}
