package graft

import graft.functions.VectorFunctions
import graft.plans.{CosineSimilarity, L2Squared, LongDotProduct}
import org.apache.spark.sql.{Column, DataFrame, GraftColumns, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The native vector kernels against the reference they replace: the
  * declarative aggregate∘zip_with folds the library used to build. Each
  * kernel must agree with its fold bit for bit, including NULL, ragged,
  * empty and overflow behaviour. */
class ExtensionsSpec extends SparkSpec {

  /** The reference folds (sequential, element 0 first, acc + v). */
  private object Fold {
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), _ + _)
    def l2sq(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
    def longDot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)
    def cosine(a: Column, b: Column): Column =
      dot(a, b) / nullif(sqrt(dot(a, a)) * sqrt(dot(b, b)), lit(0.0))
  }

  private def kernel(f: (Expression, Expression) => Expression)(a: Column, b: Column): Column =
    GraftColumns.column(f(GraftColumns.expression(a), GraftColumns.expression(b)))
  private val l2sq = kernel(L2Squared) _
  private val longDot = kernel(LongDotProduct) _
  private val cosine = kernel(CosineSimilarity) _

  private def opt(r: Row, i: Int): Option[Any] = if (r.isNullAt(i)) None else Some(r.get(i))

  /** Every column of `df`, row by row, with NULL as None. */
  private def cells(df: DataFrame): Seq[Seq[Option[Any]]] =
    df.collect().toSeq.map(r => r.schema.indices.map(opt(r, _)))

  test("graft_cosine SQL function is registered and computes cosine") {
    val r = spark.sql(
      """SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                    array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    val orth = spark.sql(
      """SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                    array(CAST(0.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(orth) < 1e-12)
    val d = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
  }

  test("entry plans carry graft_dot, graft_l2sq and graft_dot_long directly") {
    for ((entry, kernel) <- Seq("vec_norm_stats" -> "graft_dot(",
        "ann_pq_topk" -> "graft_l2sq(", "ann_ivf_int8_topk" -> "graft_dot_long(")) {
      val plan = SparkEntry.queries(entry)(spark, sf).queryExecution.optimizedPlan.toString()
      assert(plan.contains(kernel), s"expected $kernel in $entry's plan:\n" + plan.take(800))
    }
  }

  test("dot kernel is bit-exact against the reference fold on real embeddings") {
    val e = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), col("embedding"))
    val pairs = e.crossJoin(e.select(col("vec_id").as("v2"), col("embedding").as("e2")))
    val both = pairs.select(VectorFunctions.dot(col("embedding"), col("e2")).as("k"),
      Fold.dot(col("embedding"), col("e2")).as("f"))
    assert(both.count() == 2500)
    assert(both.filter(!(col("k") <=> col("f")) || col("k").isNull).count() == 0)
  }

  test("l2sq kernel is bit-exact against the (x-y)^2 fold") {
    // non-foldable source, so the generated code runs (a local Seq would
    // be evaluated by the optimizer)
    val pairs = spark.range(0, 50).select(
      transform(array((0 until 8).map(i => col("id") * (i + 1)): _*),
        x => (x.cast("double") / 7.0) - 3.0).as("a"),
      transform(array((0 until 8).map(i => col("id") + i * 13): _*),
        x => (x.cast("double") / 11.0) - 1.0).as("b"))
    val got = cells(pairs.select(l2sq(col("a"), col("b")), Fold.l2sq(col("a"), col("b"))))
    assert(got.forall(r => r(0).isDefined && r(0) == r(1)), s"kernel != fold: $got")
  }

  test("long-dot kernel is exact against the fold and overflow-loud") {
    val pairs = spark.range(0, 50).select(
      array((0 until 8).map(i => col("id") * (i + 1) - 100): _*).as("a"),
      array((0 until 8).map(i => col("id") - i * 13): _*).as("b"))
    val got = cells(pairs.select(longDot(col("a"), col("b")), Fold.longDot(col("a"), col("b"))))
    assert(got.forall(r => r(0).isDefined && r(0) == r(1)), s"kernel != fold: $got")
    // overflow raises an error, like the ANSI fold — and the kernel's
    // arithmetic is exact whatever the session's ANSI setting
    val big = spark.range(1).select(
      array(lit(Long.MaxValue)).as("a"), array(col("id") + 2).as("b"))
    intercept[Exception] { big.select(Fold.longDot(col("a"), col("b"))).collect() }
    intercept[Exception] { big.select(longDot(col("a"), col("b"))).collect() }
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try intercept[Exception] { big.select(longDot(col("a"), col("b"))).collect() }
    finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("null array elements null the fused kernels exactly like the HOF fold (r20)") {
    // a null-admitting element type (the when() makes the array nullable
    // per element); row id=3 carries the null slot
    val pairs = spark.range(0, 6).select(
      array((0 until 4).map(i =>
        when(col("id") =!= 3 || lit(i) =!= 2, (col("id") * (i + 1)).cast("double"))): _*).as("a"),
      array((0 until 4).map(i => (col("id") + i).cast("double")): _*).as("b"))
    val (a, b) = (col("a"), col("b"))
    val got = cells(pairs.select(VectorFunctions.dot(a, b), Fold.dot(a, b),
      l2sq(a, b), Fold.l2sq(a, b), cosine(a, b), Fold.cosine(a, b)))
    got.foreach(r => assert(r(0) == r(1) && r(2) == r(3) && r(4) == r(5), s"kernel != fold: $r"))
    assert(got(3).forall(_.isEmpty), "the null-slot row must be NULL")
    assert(got.patch(3, Nil, 1).forall(_.take(4).forall(_.isDefined)))
    // long kernel: same rule
    val lpairs = spark.range(0, 6).select(
      array((0 until 4).map(i =>
        when(col("id") =!= 2 || lit(i) =!= 1, col("id") * (i + 1))): _*).as("a"),
      array((0 until 4).map(i => col("id") + i): _*).as("b"))
    val lgot = cells(lpairs.select(longDot(a, b), Fold.longDot(a, b)))
    lgot.foreach(r => assert(r(0) == r(1), s"kernel != fold: $r"))
    assert(lgot(2) == Seq(None, None), "long kernel must NULL the null-slot row")
  }

  /** The generated-code path (a range source) and the interpreted path
    * (a local relation the optimizer evaluates) of one projection. */
  private def bothPaths(a: Column, b: Column)(
      out: (Column, Column) => Seq[Column]): Seq[Seq[Option[Any]]] = {
    val gen = spark.range(1, 4).select(a.as("a"), b.as("b"))
    val local = spark.createDataFrame(gen.collect().toSeq.asJava, gen.schema)
    Seq(gen, local).flatMap(df => cells(df.select(out(col("a"), col("b")): _*)))
  }

  test("ragged inputs give NULL from every kernel and from the fold") {
    val short = array(col("id").cast("double"), (col("id") + 1).cast("double"))
    val long3 = array(Seq(1, 2, 3).map(i => (col("id") * i).cast("double")): _*)
    for (r <- bothPaths(short, long3)((a, b) => Seq(
        VectorFunctions.dot(a, b), Fold.dot(a, b), l2sq(a, b), Fold.l2sq(a, b),
        cosine(a, b), Fold.cosine(a, b))))
      assert(r.forall(_.isEmpty), s"ragged double row must be NULL: $r")
    val lshort = array(col("id"), col("id") + 1)
    val llong = array(col("id"), col("id") * 2, col("id") * 3)
    for (r <- bothPaths(lshort, llong)((a, b) => Seq(longDot(a, b), Fold.longDot(a, b))))
      assert(r.forall(_.isEmpty), s"ragged long row must be NULL: $r")
  }

  test("empty arrays give 0.0 / 0L from the kernels and the fold") {
    val empty = filter(array(col("id").cast("double")), _ => lit(false))
    for (r <- bothPaths(empty, empty)((a, b) => Seq(
        VectorFunctions.dot(a, b), Fold.dot(a, b), l2sq(a, b), Fold.l2sq(a, b),
        cosine(a, b), Fold.cosine(a, b)))) {
      assert(r.take(4).forall(_ == Some(0.0)), s"empty dot/l2sq must be 0.0: $r")
      // an empty vector has zero norm: cosine is NULL in both forms
      assert(r.drop(4).forall(_.isEmpty), s"empty cosine must be NULL: $r")
    }
    val lempty = filter(array(col("id")), _ => lit(false))
    for (r <- bothPaths(lempty, lempty)((a, b) => Seq(longDot(a, b), Fold.longDot(a, b))))
      assert(r == Seq(Some(0L), Some(0L)), s"empty long dot must be 0L: $r")
  }

  test("zero-norm vectors: native and HOF cosine agree on NULL (not NaN/error)") {
    val s2 = spark
    import s2.implicits._
    val pairs = Seq(
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f)),
      (Array(0f, 0f, 0f), Array(0f, 0f, 0f)),
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)))
      .toDF("a", "b")
    val (a, b) = (col("a"), col("b"))
    val both = pairs.select(
      call_function("graft_cosine", a, b).as("native"),
      VectorFunctions.cosine(a, b, VectorFunctions.norm(a), VectorFunctions.norm(b)).as("lib"),
      Fold.cosine(a, b).as("fold"))
      .collect()
    both.take(2).foreach { r =>
      assert((0 to 2).forall(r.isNullAt), "zero-norm cosine must be NULL in every form")
    }
    assert(both(2).getDouble(0) == both(2).getDouble(1))
    assert(both(2).getDouble(0) == both(2).getDouble(2))
    assert(math.abs(both(2).getDouble(0) - 1.0) < 1e-12)
  }

  test("native cosine equals the composed HOF cosine on real embeddings") {
    val e = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), col("embedding"))
    val pairs = e.crossJoin(e.select(col("vec_id").as("v2"), col("embedding").as("e2")))
      .filter(col("vec_id") < col("v2"))
    val both = pairs.select(
      call_function("graft_cosine", col("embedding"), col("e2")).as("native"),
      Fold.cosine(col("embedding"), col("e2")).as("fold"))
    assert(both.filter(!(col("native") <=> col("fold"))).count() == 0)
  }
}
