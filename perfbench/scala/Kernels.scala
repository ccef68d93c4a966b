package graftbench

import org.apache.spark.sql.{Column, DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** The `plans` layer on its own: each native expression timed through the
  * public function that places it in a plan, over a seeded in-memory
  * frame, minus the same query reading only the kernel's inputs (their sizes).
  * Reported as ns per array element (vector kernels) or per input
  * character (text kernels) on one core; the median of [[Reps]] runs each. */
object Kernels {
  val Rows = 2000
  val Dim = 512
  val Reps = 3
  // Each input row stands for this many rows inside the query, so the
  // kernel's time outweighs per-query overhead. The kernel reads its
  // inputs through `when(rep >= 0, x)` (vectors: a reference, no copy) or
  // `concat(text, rep)` (text: defeats the kernels' per-word memos), which
  // ties it to the repeated row so it runs once per repeated row.
  val VecRepeat = 40
  val TextRepeat = 2

  def measure(spark: SparkSession, dataDir: String, seed: Long): Map[String, Double] = {
    import spark.implicits._
    spark.sparkContext.setLocalProperty(Trace.OpKey, "plans")
    val rnd = new java.util.Random(seed)
    val vecs = (0 until Rows).map { _ =>
      val a = Array.fill(Dim)(rnd.nextGaussian().toFloat)
      val b = Array.fill(Dim)(rnd.nextGaussian().toFloat)
      (a, b, a.map(x => math.round(x * 40).toLong), b.map(x => math.round(x * 40).toLong))
    }
    // one partition: the figures are per element on one core
    val v = vecs.toDF("a", "b", "la", "lb").coalesce(1).cache()
    v.count()
    val text = graft.Tables.documents(spark, dataDir).select("text").coalesce(1).cache()
    val chars = text.select(sum(length(col("text")))).head().getLong(0).toDouble
    // BpeOps.bpeCount places the kernel with the corpus's trained merges
    val merges = graft.functions.Bpe.train(spark, dataDir).map(m => (m.pair, m.merged))

    def run(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.collect()
      (System.nanoTime() - t0).toDouble
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    /** (kernel query - input-only query) / units: both sum one value per
      * repeated row; the input-only query sums the inputs' sizes. */
    def per(frame: DataFrame, repeat: Int, k: Seq[Column] => Column,
        base: Seq[Column] => Column, units: Double, tie: Column => Column): Double = {
      val rep = frame.select(explode(array_repeat(lit(0), repeat)).as("rep") +:
        frame.columns.toSeq.map(col): _*)
      val in = frame.columns.toSeq.map(c => tie(col(c)))
      val kern = rep.select(sum(k(in).cast("double")))
      val only = rep.select(sum(base(in)))
      run(kern); run(only) // compile once outside the samples
      val (tk, tb) = (1 to Reps).map(_ => (run(kern), run(only))).unzip
      (med(tk) - med(tb)) / (units * repeat)
    }
    def ref(x: Column) = when(col("rep") >= 0, x)
    def fresh(x: Column) = concat(x, lit(" "), col("rep").cast("string"))
    def e(c: Column) = GraftColumns.expression(c)
    def c(x: Expression) = GraftColumns.column(x)
    val sizes = (in: Seq[Column]) => size(in(0)) + size(in(1))
    val chars1 = (in: Seq[Column]) => length(in(0))
    val ab = v.select("a", "b")
    val lab = v.select("la", "lb")
    val elems = Rows.toDouble * Dim
    val res = Map(
      "dot_ns_per_elem" -> per(ab, VecRepeat,
        in => graft.functions.VectorFunctions.dot(in(0), in(1)), sizes, elems, ref),
      "cosine_ns_per_elem" -> per(ab, VecRepeat,
        in => c(graft.plans.CosineSimilarity(e(in(0)), e(in(1)))), sizes, elems, ref),
      "l2sq_ns_per_elem" -> per(ab, VecRepeat,
        in => c(graft.plans.L2Squared(e(in(0)), e(in(1)))), sizes, elems, ref),
      "long_dot_ns_per_elem" -> per(lab, VecRepeat,
        in => c(graft.plans.LongDotProduct(e(in(0)), e(in(1)))), sizes, elems, ref),
      "winnow_ns_per_char" -> per(text, TextRepeat,
        in => size(c(graft.plans.WinnowFingerprints(e(in(0))))), chars1, chars, fresh),
      "shingle_ns_per_char" -> per(text, TextRepeat,
        in => size(c(graft.plans.WordShingles(e(in(0))))), chars1, chars, fresh),
      "bpe_ns_per_char" -> per(text, TextRepeat,
        in => c(graft.plans.BpeTokenCount(e(in(0)), merges)), chars1, chars, fresh))
    v.unpersist(); text.unpersist()
    spark.sparkContext.setLocalProperty(Trace.OpKey, null)
    res
  }
}
