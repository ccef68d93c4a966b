package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run inside one JVM: set up a `GraftSession.local`
  * session (timed from JVM start), replay the op script
  * the Python side generated from the seed, pass by pass, until the run's
  * seconds are spent (always ending on a pass boundary), then run the
  * output check outside the timed region and write everything to a JSON
  * file. Everything is measured from outside the library, by timing
  * calls into its public functions; `--trace 1` adds Spark's public hooks
  * (see [[Trace]]).
  *
  * Arguments are `key=value`: workload, seed, seconds, trace, nproc,
  * data (generated tables), work (scratch and check outputs), script
  * (op script), out (result JSON), check (comma-separated entries whose
  * output the check pass writes).
  */
object Main {

  final case class Op(code: String, args: Array[String]) {
    def arg(i: Int): String = args(i)
  }

  /** What the timed loop records per op. Times are wall-clock ms (for
    * span attribution) plus a nanosecond latency. */
  final class OpRec(val idx: Int, val pass: Int, val kind: String, val name: String) {
    var startMs = 0L; var buildEndMs = 0L; var endMs = 0L
    var latNs = 0L; var cpuNs = 0L; var gcMs = 0L
    var ok = true; var err = ""
    var rowsOut = 0L
    var rows: Array[Row] = null
    var filesBefore = -1; var filesAfter = -1; var filesPerRead = -1
    var versionsAdded = 0; var bytesAdded = 0L; var bytesRetired = 0L
    var resolveNs = 0L
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = osBean.getProcessCpuTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Throwable => "" }

  /** Peak resident set size of this JVM in MB (VmHWM). */
  def rssPeakMb(): Double =
    try {
      val l = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get
      l.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  /** Memory the program holds, in MB: the heap still reachable after a
    * full collection, plus the peak use of the non-heap pools (metaspace,
    * which grows with every generated class, and the code cache) and the
    * NIO buffer memory in use. Unlike the RSS it does not follow how far
    * the collector happened to grow the heap. */
  def memHeldMb(): Double = {
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean])
      .asScala.map(_.getMemoryUsed).sum
    (heap + nonHeap + buffers) / 1048576.0
  }

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val nproc = a("nproc").toInt
    val dataDir = a("data")
    val workDir = a("work")
    val script = Files.readAllLines(Paths.get(a("script"))).asScala.toSeq
    val passes: Seq[Seq[Op]] = splitPasses(script)
    val init = passes.head // the set-up block (empty for entry workloads)
    val timed = passes.tail
    val out = new Json
    val load0 = loadavg()

    // ---- set-up, once, counted from JVM start ----
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupT0 = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val spark = graft.GraftSession.local(nproc)
    spark.sparkContext.setLocalProperty(Trace.OpKey, "setup")
    val ks = if (workload != "messages_rw") None else {
      val k = new Keyspace(spark, "bench_ks")
      k.store.dropKeyspace()
      k.store.createKeyspace()
      k.store.createTables()
      init.foreach(op => k.exec(op, null))
      Some(k)
    }
    warmUp(spark, dataDir)
    val setupS = (System.nanoTime() - setupT0) / 1e9

    val trace = if (traced) Some(new Trace(spark)) else None

    // ---- timed passes ----
    val recs = mutable.ArrayBuffer[OpRec]()
    val runner = new Runner(spark, dataDir, ks, trace)
    var firstPassS = 0.0
    var warmStartNs = 0L; var warmEndNs = 0L
    var passIdx = 0
    var warmCpu0 = 0L; var warmCpu1 = 0L
    ks.foreach(_.snapshotStart())
    while (passIdx < timed.size && (passIdx < 2 ||
        (System.nanoTime() - warmStartNs) / 1e9 < seconds)) {
      if (passIdx == 1) { warmStartNs = System.nanoTime(); warmCpu0 = cpuNs() }
      val t0 = System.nanoTime()
      timed(passIdx).foreach { op => recs += runner.run(recs.size, passIdx, op) }
      if (passIdx == 0) firstPassS = (System.nanoTime() - t0) / 1e9
      passIdx += 1
      warmEndNs = System.nanoTime(); warmCpu1 = cpuNs()
    }
    val warmWallS = (warmEndNs - warmStartNs) / 1e9
    val warmCpuS = (warmCpu1 - warmCpu0) / 1e9
    val load1 = loadavg()
    val rssMb = rssPeakMb()
    val memMb = memHeldMb()
    val heapMb = heapPeakMb()
    val plansNs = trace.map(_ => Kernels.measure(spark, dataDir, a("seed").toLong))

    // ---- output check, outside the timed region ----
    val checkT0 = System.nanoTime()
    spark.sparkContext.setLocalProperty(Trace.OpKey, "check")
    val checkDir = new File(workDir, "check")
    val checked = mutable.LinkedHashMap[String, String]()
    if (workload != "messages_rw") {
      a.getOrElse("check", "").split(",").filter(_.nonEmpty).foreach { n =>
        val path = new File(checkDir, n).getPath
        try {
          graft.SparkEntry.queries(n)(spark, dataDir).coalesce(1)
            .write.mode("overwrite").parquet(path)
          checked(n) = ""
        } catch { case e: Throwable => checked(n) = msg(e) }
      }
    }
    val storeFacts = ks.map(_.facts()).getOrElse(Map.empty[String, Double])
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    val checkS = (System.nanoTime() - checkT0) / 1e9

    // draining the listener bus (stop) before reading the trace
    spark.stop()

    out.obj {
      out.field("workload", workload)
      out.field("seed", a("seed"))
      out.field("trace", traced)
      out.field("setup_s", setupS)
      out.field("first_pass_s", firstPassS)
      out.field("warm_passes", (passIdx - 1).max(0))
      out.field("warm_wall_s", warmWallS)
      out.field("warm_cpu_s", warmCpuS)
      out.field("check_s", checkS)
      out.field("mem_peak_mb", memMb)
      out.field("rss_peak_mb", rssMb)
      out.field("heap_peak_mb", heapMb)
      out.field("loadavg_before", load0)
      out.field("loadavg_after", load1)
      out.field("java_version", sys.props("java.version"))
      out.field("spark_version", org.apache.spark.SPARK_VERSION)
      out.field("nproc", nproc)
      out.key("conf"); out.obj { conf.foreach { case (k, v) => out.field(k, v) } }
      out.key("store"); out.obj { storeFacts.foreach { case (k, v) => out.field(k, v) } }
      out.key("checked"); out.obj { checked.foreach { case (k, v) => out.field(k, v) } }
      out.key("oracle_sql"); out.obj {
        checked.keys.foreach(n => graft.SparkEntry.oracleSql.get(n).foreach(out.field(n, _)))
      }
      out.key("ops"); out.arr(recs.toSeq) { r =>
        out.obj {
          out.field("i", r.idx); out.field("pass", r.pass); out.field("kind", r.kind)
          out.field("name", r.name); out.field("lat_ms", r.latNs / 1e6)
          out.field("cpu_ms", r.cpuNs / 1e6); out.field("gc_ms", r.gcMs.toDouble)
          out.field("start_ms", r.startMs); out.field("build_end_ms", r.buildEndMs)
          out.field("end_ms", r.endMs)
          out.field("ok", r.ok); if (!r.ok) out.field("err", r.err)
          out.field("rows_out", r.rowsOut)
          if (r.filesBefore >= 0) {
            out.field("files_before", r.filesBefore); out.field("files_after", r.filesAfter)
            out.field("versions_added", r.versionsAdded)
            out.field("bytes_added", r.bytesAdded); out.field("bytes_retired", r.bytesRetired)
            out.field("resolve_ms", r.resolveNs / 1e6)
          }
          if (r.filesPerRead >= 0) out.field("files_per_read", r.filesPerRead)
          if (r.rows != null) {
            out.key("rows"); out.arr(r.rows.toSeq) { row =>
              out.arr(row.toSeq)(v => out.value(v))
            }
          }
        }
      }
      trace.foreach { t => out.key("layers"); t.write(out, recs.toSeq) }
      plansNs.foreach { p => out.key("plans"); out.obj { p.foreach { case (k, v) => out.field(k, v) } } }
    }
    val pw = new PrintWriter(a("out"), "UTF-8")
    try pw.write(out.result) finally pw.close()
  }

  def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  /** Script blocks are separated by lines holding only `--`; block 0 is
    * the set-up load, block 1 the first (cold) pass, the rest warm. */
  def splitPasses(lines: Seq[String]): Seq[Seq[Op]] = {
    val out = mutable.ArrayBuffer(mutable.ArrayBuffer[Op]())
    lines.foreach { l =>
      if (l == "--") out += mutable.ArrayBuffer[Op]()
      else if (l.nonEmpty) { val f = l.split("\t", -1); out.last += Op(f(0), f.drop(1)) }
    }
    out.map(_.toSeq).toSeq
  }

  /** Generic engine warm-up: the tiny scan graft.Bench also runs before
    * timing, so the first measured op does not absorb class loading. */
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    graft.Tables.region(spark, dataDir).count()
    spark.range(0, 10000).selectExpr("sum(id)").collect()
  }
}

/** Executes one op: builds through the public entry function (or
  * MessageStore/TokenRangeOps call), runs the action, and times both. */
final class Runner(spark: SparkSession, dataDir: String,
    ks: Option[Keyspace], trace: Option[Trace]) {
  import Main._

  private val entries = graft.SparkEntry.queries

  def run(idx: Int, pass: Int, op: Op): OpRec = {
    val kind = if (op.code == "e") "entry" else Keyspace.kinds(op.code)
    val r = new OpRec(idx, pass, kind, if (op.code == "e") op.arg(0) else kind)
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpKey, idx.toString)
    // an entry's jobs before its action are eager sub-jobs of the build
    sc.setLocalProperty(Trace.PhaseKey, if (op.code == "e") "build" else "call")
    trace.foreach(_ => ks.foreach(_.probeBefore(op, r)))
    trace.foreach(_.before())
    val cpu0 = cpuNs(); val gc0 = gcMs()
    r.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      if (op.code == "e") {
        val df = entries(op.arg(0))(spark, dataDir)
        r.buildEndMs = System.currentTimeMillis()
        sc.setLocalProperty(Trace.PhaseKey, "action")
        df.write.format("noop").mode("overwrite").save()
      } else ks.get.exec(op, r)
    } catch { case e: Throwable => r.ok = false; r.err = msg(e) }
    r.latNs = System.nanoTime() - t0
    r.endMs = System.currentTimeMillis()
    if (r.buildEndMs == 0L) r.buildEndMs = r.endMs
    r.cpuNs = cpuNs() - cpu0
    r.gcMs = gcMs() - gc0
    sc.setLocalProperty(Trace.PhaseKey, null)
    trace.foreach(_.after(idx))
    trace.foreach(_ => ks.foreach(_.probeAfter(op, r)))
    r
  }
}
