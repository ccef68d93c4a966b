package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's hooks, all public Spark API: a [[SparkListener]]
  * (jobs, stages, tasks), a [[QueryExecutionListener]] (`qe.tracker`
  * phase and rule times of each query actually run), a
  * [[StreamingQueryListener]] (micro-batch progress) and [[CodegenMetrics]]
  * (whole-stage codegen compiles). Jobs are tied to the op that ran them
  * through a local property set around each op; queries and
  * micro-batches carry no properties and are tied by their wall-clock
  * times. Events are kept in memory and folded per op after the session
  * stops (which drains the listener bus). */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[(Int, TaskInfo, org.apache.spark.executor.TaskMetrics, Boolean)]()
  private val qes = new ConcurrentLinkedQueue[QE]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val drainStarts = new ConcurrentLinkedQueue[Long]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpKey))).getOrElse("")
      val ph = p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, op, ph, e.time, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        tasks.add((e.stageId, e.taskInfo, e.taskMetrics, e.taskInfo.successful))
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val t = qe.tracker
      val ph = t.phases
      if (ph.nonEmpty) {
        val rules = t.rules
        qes.add(QE(ph.values.map(_.startTimeMs).min, ph.values.map(_.endTimeMs).max,
          ph.map { case (k, v) => k -> v.durationMs },
          rules.collect { case (n, r) if n.startsWith("graft.") => r.totalTimeNs }.sum,
          rules.values.map(_.numInvocations).sum,
          rules.values.map(_.numEffectiveInvocations).sum))
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      drainStarts.add(parseTs(e.timestamp))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.toSeq
      progress.add(Progress(parseTs(p.timestamp),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        st.map(_.commitTimeMs).sum, st.map(_.numRowsDroppedByWatermark).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  // ---- codegen: process-global histogram, read around each op ----
  private val compiles = mutable.Map[Int, (Long, Double)]()
  private def codegenNow(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val vals = h.getSnapshot.getValues
    // the reservoir keeps every sample until it holds 1028; past that the
    // mean stands in for the dropped ones
    val total = if (h.getCount <= vals.length) vals.sum.toDouble
      else h.getSnapshot.getMean * h.getCount
    (h.getCount, total)
  }
  private var cg0 = (0L, 0.0)
  def before(): Unit = cg0 = codegenNow()
  def after(idx: Int): Unit = {
    val c = codegenNow()
    compiles(idx) = (c._1 - cg0._1, (c._2 - cg0._2).max(0.0))
  }

  /** Per-op layer figures, written as one object per op. */
  def write(out: Json, recs: Seq[Main.OpRec]): Unit = {
    val stageJob = mutable.Map[Int, Job]()
    jobs.values.asScala.toSeq.sortBy(_.id).foreach(j => j.stages.foreach(s => stageJob.getOrElseUpdate(s, j)))
    val tasksByOp = tasks.asScala.toSeq.groupBy { case (s, _, _, _) => stageJob.get(s).map(_.op).getOrElse("") }
    val jobsByOp = jobs.values.asScala.toSeq.groupBy(_.op)
    val qeSeq = qes.asScala.toSeq
    val prSeq = progress.asScala.toSeq
    val starts = drainStarts.asScala.toSeq
    out.arr(recs) { r =>
      val id = r.idx.toString
      val js = jobsByOp.getOrElse(id, Nil)
      val ts = tasksByOp.getOrElse(id, Nil)
      val in = (t: Long) => t >= r.startMs && t <= r.endMs
      val q = qeSeq.filter(x => in(x.start))
      val pr = prSeq.filter(x => in(x.start))
      val jobIv = js.map(j => (j.start, j.end))
      val qeIv = q.map(x => (x.start, x.end))
      val stIv = pr.map(x => (x.start, x.start + x.durations.getOrElse("triggerExecution", 0L)))
      val children = jobIv ++ qeIv ++ stIv
      val (nCompiles, compileMs) = compiles.getOrElse(r.idx, (0L, 0.0))
      val stages = ts.groupBy(_._1)
      def tm(f: org.apache.spark.executor.TaskMetrics => Long) =
        ts.map(t => Option(t._3).map(f).getOrElse(0L)).sum
      val skews = stages.values.filter(_.size >= 2).map { st =>
        val d = st.map(_._2.duration).sorted
        d.last.toDouble / math.max(d(d.size / 2), 1L)
      }
      val drainStartsIn = starts.filter(in)
      val drainSpans = drainStartsIn.map { s0 =>
        val mine = pr.filter(_.start >= s0)
        val end = (mine.map(x => x.start + x.durations.getOrElse("triggerExecution", 0L)) :+ s0).max
        end - s0
      }
      out.obj {
        out.field("i", r.idx)
        out.field("jobs", js.size)
        out.field("build_jobs", js.count(_.phase == "build"))
        out.field("build_job_ms", covered(r.startMs, r.buildEndMs, js.filter(_.phase == "build").map(j => (j.start, j.end))))
        out.field("job_wall_ms", covered(r.startMs, r.endMs, jobIv))
        out.field("stages", stages.size)
        out.field("tasks", ts.size)
        out.field("tasks_failed", ts.count(!_._4))
        out.field("run_ms", tm(_.executorRunTime))
        out.field("cpu_ms", tm(_.executorCpuTime) / 1e6)
        out.field("gc_ms", tm(_.jvmGCTime))
        out.field("task_wait_ms", ts.map { case (s, ti, _, _) =>
          Option(stageSubmit.get(s)).map(x => (ti.launchTime - x).max(0L)).getOrElse(0L) }.sum)
        out.field("stage_skew", if (skews.isEmpty) 1.0 else skews.sum / skews.size)
        out.field("shuffle_write_bytes", tm(_.shuffleWriteMetrics.bytesWritten))
        out.field("shuffle_read_bytes", tm(m => m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead))
        out.field("shuffle_fetch_wait_ms", tm(_.shuffleReadMetrics.fetchWaitTime))
        out.field("spill_bytes", tm(m => m.memoryBytesSpilled + m.diskBytesSpilled))
        out.field("peak_exec_mem_bytes", ts.map(t => Option(t._3).map(_.peakExecutionMemory).getOrElse(0L)).foldLeft(0L)(_ max _))
        out.field("input_bytes", tm(_.inputMetrics.bytesRead))
        out.field("input_rows", tm(_.inputMetrics.recordsRead))
        out.field("queries", q.size)
        out.field("analysis_ms", q.map(_.phases.getOrElse("analysis", 0L)).sum)
        out.field("optimization_ms", q.map(_.phases.getOrElse("optimization", 0L)).sum)
        out.field("planning_ms", q.map(_.phases.getOrElse("planning", 0L)).sum)
        out.field("graft_rule_ms", q.map(_.graftRuleNs).sum / 1e6)
        out.field("rule_invocations", q.map(_.invocations).sum)
        out.field("rule_effective", q.map(_.effective).sum)
        out.field("compiles", nCompiles)
        out.field("compile_ms", compileMs)
        out.field("drains", drainStartsIn.size)
        out.field("batches", pr.size)
        out.field("stream_input_rows", pr.map(_.inputRows).sum)
        for ((k, n) <- StreamDurations) out.field(n, pr.map(_.durations.getOrElse(k, 0L)).sum)
        out.field("harness_ms", (drainSpans.sum - pr.map(_.durations.getOrElse("triggerExecution", 0L)).sum).max(0L))
        out.field("state_rows", pr.map(_.stateRows).foldLeft(0L)(_ max _))
        out.field("state_mem_bytes", pr.map(_.stateMem).foldLeft(0L)(_ max _))
        out.field("state_commit_ms", pr.map(_.stateCommitMs).sum)
        out.field("state_rows_dropped", pr.map(_.dropped).sum)
        // self times: each window minus the child spans it contains; an
        // entry splits into build (operators) and action, a MessageStore or
        // TokenRangeOps call is one window whose self time stays unattributed
        val split = if (r.kind == "entry") r.buildEndMs else r.startMs
        val buildSelf = (split - r.startMs) - covered(r.startMs, split, children)
        val actionRest = (r.endMs - split) - covered(split, r.endMs, children)
        out.field("build_self_ms", buildSelf.toDouble)
        out.field("unattributed_ms", (actionRest - compileMs).max(0.0))
      }
    }
  }
}

object Trace {
  private final case class Job(id: Int, op: String, phase: String, start: Long,
      var end: Long, stages: Seq[Int])
  private final case class QE(start: Long, end: Long, phases: Map[String, Long],
      graftRuleNs: Long, invocations: Long, effective: Long)
  private final case class Progress(start: Long, durations: Map[String, Long],
      inputRows: Long, stateRows: Long, stateMem: Long, stateCommitMs: Long,
      dropped: Long)

  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  val StreamDurations: Seq[(String, String)] = Seq(
    "triggerExecution" -> "trigger_ms", "addBatch" -> "add_batch_ms",
    "queryPlanning" -> "query_planning_ms", "walCommit" -> "wal_commit_ms",
    "commitOffsets" -> "commit_offsets_ms", "latestOffset" -> "latest_offset_ms")

  def parseTs(s: String): Long =
    try java.time.Instant.parse(s).toEpochMilli
    catch { case _: Throwable => System.currentTimeMillis() }

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  def covered(lo: Long, hi: Long, iv: Seq[(Long, Long)]): Long = {
    val clipped = iv.map { case (a, b) => (a max lo, b min hi) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
