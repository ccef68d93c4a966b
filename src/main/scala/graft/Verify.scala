package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Mechanical SURVEY §2 ↔ SparkEntry.queries census (VERDICT r5 #9:
    * name drift between the checklist and the code must be structurally
    * impossible, not a judge spot-check). Two directions:
    *   1. every queries key must appear as a backticked token inside §2
    *      (grouped multi-name checklist lines count);
    *   2. every checklist line's LEADING backticked query-style name
    *      (lowercase_with_underscores) must be a real queries key —
    *      catching stale/renamed heads like `q3_top_unshipped_orders`.
    * Throws (failing the driver's verify step) on any drift. */
  private[graft] def censusCheck(surveyPath: String = "SURVEY.md"): Unit = {
    val lines = scala.io.Source.fromFile(surveyPath, "UTF-8").getLines().toSeq
    val s2 = lines.dropWhile(!_.startsWith("## §2"))
      .drop(1).takeWhile(!_.startsWith("## §"))
    val tick = "`([^`]+)`".r
    val tokens = s2.flatMap(l => tick.findAllMatchIn(l).map(_.group(1))).toSet
    val leads = s2.collect {
      case l if l.startsWith("- [x] `") =>
        tick.findFirstMatchIn(l).map(_.group(1))
    }.flatten.filter(n => n.exists(_ == '_') && n.forall(c => !c.isUpper))
    val keys = SparkEntry.queries.keySet
    val missingFromSurvey = keys.diff(tokens)
    val staleInSurvey = leads.filterNot(keys)
    require(missingFromSurvey.isEmpty && staleInSurvey.isEmpty,
      s"SURVEY §2 / SparkEntry.queries census drift — " +
        s"keys absent from §2: ${missingFromSurvey.toSeq.sorted.mkString(", ")}; " +
        s"stale §2 checklist names: ${staleInSurvey.sorted.mkString(", ")}")
    println(s"[verify] census: ${keys.size} queries keys all in SURVEY §2, " +
      s"${leads.size} checklist heads all live")
  }

  /** Scaling-proof coverage gate (VERDICT r7 next-round #2: the decade
    * check covered 167 of 171 entries and nothing failed when the gap
    * opened). BENCH_SCALING.json must cover every current queries entry
    * minus the declared streaming-harness exclusions; on drift this
    * throws, so adding an entry without re-running the decade check
    * fails the round's verify step loudly. Regenerate with
    * tools/make_sf1.py + 3 Bench runs + tools/scaling_report.py. */
  private[graft] def scalingCoverageCheck(path: String = "BENCH_SCALING.json"): Unit = {
    val doc = Files.readString(Paths.get(path))
    val n = "\"n_entries\":\\s*(\\d+)".r.findFirstMatchIn(doc)
      .map(_.group(1).toInt)
      .getOrElse(sys.error(s"$path has no n_entries field"))
    val superlinear = "\"n_superlinear\":\\s*(\\d+)".r.findFirstMatchIn(doc)
      .map(_.group(1).toInt).getOrElse(-1)
    val want = SparkEntry.queries.size
    require(n == want,
      s"BENCH_SCALING.json covers $n entries but SparkEntry.queries has $want — " +
        "the decade scaling proof is stale; re-run tools/scaling_report.py at HEAD")
    println(s"[verify] scaling: $n/$want entries covered, $superlinear superlinear")
  }

  private[graft] def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The SQL settings of the plain session Verify runs every entry in —
    * one definition, shared with SessionSettingsSpec, which checks that
    * GraftSession's extra settings change no entry's result. */
  private[graft] def sqlSettings: Map[String, Any] = Map(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // census first: a drifted checklist fails the round loudly before any
    // query runs (skipped only if SURVEY.md is absent — non-repo cwd)
    if (Files.exists(Paths.get("SURVEY.md"))) censusCheck()
    // optional 3rd+ args: restrict to the named queries (local iteration)
    val only = args.drop(2).toSet
    // scaling coverage gates FULL runs only (the driver's gate): a
    // restricted local iteration mid-build legitimately predates the
    // round-end decade re-run
    if (only.isEmpty && Files.exists(Paths.get("BENCH_SCALING.json")))
      scalingCoverageCheck()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(sqlSettings)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // run-completion marker (ADVICE r10 #2): deleted up front on FULL
    // runs, written back as the very last step — tools/check_oracle.py
    // treats a mapped entry with no parquet as IN-FLIGHT (not FAIL) while
    // the marker is absent, so racing a live Verify can never miscount
    // missing outputs. Restricted runs leave the marker alone (r11
    // review): they only REFRESH named entries inside an outdir whose
    // completeness state they do not change — deleting it would turn a
    // genuinely-missing output of a failed subset entry into a permanent
    // IN-FLIGHT.
    if (only.isEmpty) Files.deleteIfExists(Paths.get(s"$outDir/_VERIFY_DONE"))
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS the complete oracle map, even on restricted runs — a filtered
    // iteration must not overwrite a full run's oracle_sql.json in the same
    // outDir with a partial one (the parquet dirs of earlier full runs
    // would silently lose their oracles)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // completion marker LAST (see the delete above): full runs only — a
    // restricted iteration leaves the outdir formally in-flight, because
    // entries it skipped genuinely have no fresh output
    if (only.isEmpty)
      Files.writeString(Paths.get(s"$outDir/_VERIFY_DONE"), "done\n")
    spark.stop()
  }
}
