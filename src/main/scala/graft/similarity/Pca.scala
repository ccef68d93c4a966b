package graft.similarity

import graft.{QueryModule, Tables}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.F — distributed PCA over the embeddings table: the one
  * linear-algebra reduction an embedding pipeline runs before
  * visualization, whitening, or cheap dimensionality cuts.
  *
  * Spark-first shape, built so ONLY constant-size state ever leaves the
  * executors:
  *
  *  1. ONE moments pass over the data: each row explodes to its upper-
  *     triangle outer-product cells (i ≤ j → d(d+1)/2 = 2080 cells at
  *     d=64) which partial-aggregate map-side, so each task sends at most
  *     2080 cells into one exchange regardless of row count — the same
  *     "constant shuffle" discipline as the CMS sketch build. Products
  *     are fixed-pointed to 1e-10 longs before the SUM: integer
  *     accumulation is order-free, so the covariance matrix — and
  *     therefore the fitted basis — is bit-identical run to run (the
  *     repo-wide fixed-point convention applied to a float reduction).
  *  2. The d×d covariance is assembled driver-side from the 2080 cells
  *     (cov = E[xxᵀ] − μμᵀ). This is the repo's ONE deliberate
  *     `collect()`: it pulls a CONSTANT-size model (d(d+1)/2 cells,
  *     fixed by the schema, independent of row count), never data —
  *     the same structure as Spark MLlib's public
  *     RowMatrix.computePrincipalComponents (treeAggregate the Gramian,
  *     eigensolve on the driver). A relational eigensolve would replace
  *     one constant transfer with ~600 tiny iterative jobs; where the
  *     model IS data-sized (IVF centroid training, Ann.scala) this repo
  *     stays fully relational instead. Top-k eigenpairs by
  *     deterministic power iteration with deflation; each eigenvector
  *     is sign-canonicalized (largest-|component| made positive) so the
  *     basis is unique.
  *  3. Projection is a broadcast-literal dot product per component via
  *     [[VectorFunctions.dot]], which places the native DotProduct kernel
  *     in the plan — map-only, inside whole-stage codegen, no second
  *     shuffle.
  *
  * At 100 TB only pass 1 touches the data, and its exchange carries
  * O(d² × tasks) cells. HASH-GREEN as of r5: even the eigensolve
  * replays in SQL — chained recursive CTEs alternate matvec/normalize
  * half-steps over the materialized covariance ([[eigenCtesSql]]), so
  * the DuckDB oracle derives the bit-identical basis; PcaSpec
  * additionally asserts the linear-algebra contract (orthonormal
  * basis, PC1 variance ≥ every axis variance ≥ PC2, projected
  * variance == eigenvalue).
  */
object Pca extends QueryModule {

  private val Dim = 64
  private val TopK = 2

  // ---- HI/LO SPLIT accumulation (VERDICT r14 next-round #8: the direct
  // 1e10-scaled long sum wrapped past ~2e7 rows and a hard require() was
  // the stopgap). Each per-row fixed-point term q (|q| ≲ 4e11 on this
  // corpus, exactly representable in double) splits into
  //   hi = ⌊q / 2^20⌋  (an EXACT double op: q is exact and 2^20 is a
  //        power of two, so the division only shifts the exponent),
  //   lo = q − hi·2^20 ∈ [0, 2^20),
  // and the two long sums Σhi (|terms| ≲ 4e5) and Σlo (< 2^20) stay
  // overflow-free past 10^12 rows. The driver reassembles the EXACT
  // integer Σq = 2^20·Σhi + Σlo in BigInt and converts once — for any
  // Σq that fits a long this is bit-identical to the old direct path
  // (one correctly-rounded integer→double conversion of the same exact
  // value), which is also exactly what the DuckDB oracle computes (its
  // SUM(BIGINT) is a 128-bit HUGEINT — the SQL side never overflowed),
  // so the bit-replay contract and every PCA oracle hold unchanged.
  private[graft] val SplitBase = 1L << 20
  private[graft] def splitHi(q: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(q.cast("double") / lit(SplitBase.toDouble)).cast("long")
  private[graft] def splitLo(q: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    q - splitHi(q) * SplitBase
  private[graft] def assembleSplit(hi: Long, lo: Long): Double =
    (BigInt(hi) * SplitBase + BigInt(lo)).toDouble

  /** Upper-triangle second moments + per-dim sums + count, one pass:
    * returns (covariance, μ). */
  private def moments(s: SparkSession, d: String): (Array[Array[Double]], Array[Double]) = {
    val emb = Tables.embeddings(s, d).select(col("embedding"))
    // Products are FIXED-POINTED to 1e-10 longs (the emb_centroid device
    // at model-fit precision): integer sums are order-free like the
    // earlier decimal(30,15) accumulation but run as primitive codegen'd
    // longs — the decimal hash-aggregate was this pass's actual cost
    // (emb_pca_project 5.7 → 0.6 s at sf0.1, same 20M cells). Each term
    // rides the hi/lo split above, so the pass is overflow-safe to 10^12
    // rows; the 1e-10 quantization itself is noise (PcaSpec's tightest
    // contract is 1e-6, eigenvalue recovery 1%).
    val qxx = floor(col("xi").cast("double") * col("xj") * 1e10 + 0.5).cast("long")
    // per-dim first moment rides the diagonal cells (j == i) for free
    val qx = when(col("j") === col("i"),
      floor(col("xi").cast("double") * 1e10 + 0.5).cast("long"))
    val cells = emb
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("embedding")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(
        sum(splitHi(qxx)).as("sxxhi"), sum(splitLo(qxx)).as("sxxlo"),
        sum(splitHi(qx)).as("sxhi"), sum(splitLo(qx)).as("sxlo"),
        count(lit(1)).as("n"))
    val rows = cells.collect()
    val n = rows.collect { case r if r.getInt(0) == 0 && r.getInt(1) == 0 => r.getLong(6) }.head
    // the WIDENED bound (was 2e7 with the direct long sum): past 10^12
    // rows even the split partial sums approach long range — still a loud
    // error, never a silently wrong basis.
    require(n <= 1000000000000L,
      s"PCA moments split accumulator is overflow-safe to 1e12 rows (got $n); " +
        "widen SplitBase/partials before fitting at this scale")
    val sxx = Array.ofDim[Double](Dim, Dim)
    val sx = new Array[Double](Dim)
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val v = assembleSplit(r.getLong(2), r.getLong(3)) / 1e10
      sxx(i)(j) = v; sxx(j)(i) = v
      if (i == j) sx(i) = assembleSplit(r.getLong(4), r.getLong(5)) / 1e10
    }
    val cov = Array.tabulate(Dim, Dim) { (i, j) =>
      sxx(i)(j) / n - (sx(i) / n) * (sx(j) / n)
    }
    (cov, sx.map(_ / n))
  }

  private def matVec(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
    m.map(row => row.indices.foldLeft(0.0)((acc, i) => acc + row(i) * v(i)))

  private[similarity] def dotV(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dotV(v, v))
    v.map(_ / n)
  }

  /** Deterministic power iteration with deflation: fixed all-ones start,
    * fixed iteration count, sign-canonicalized output. */
  private[graft] def topEigen(cov: Array[Array[Double]], k: Int): Seq[(Double, Array[Double])] = {
    var m = cov.map(_.clone())
    (0 until k).map { _ =>
      var v = normalize(Array.fill(Dim)(1.0))
      var i = 0
      while (i < 300) { v = normalize(matVec(m, v)); i += 1 }
      val lambda = dotV(v, matVec(m, v))
      // sign canon: the largest-|x| component (lowest index on ties) positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      val canon = if (v(pivot) < 0) v.map(-_) else v
      // deflate: m ← m − λ vvᵀ
      m = Array.tabulate(Dim, Dim)((r, c) => m(r)(c) - lambda * canon(r) * canon(c))
      (lambda, canon)
    }
  }

  /** The fitted model — (μ, top-k eigenpairs) — for [[project]],
    * [[Ann.pcaTopK]], and library users (docs/USAGE.md). */
  def fit(s: SparkSession, d: String,
      k: Int = TopK): (Array[Double], Seq[(Double, Array[Double])]) = {
    val (cov, mu) = moments(s, d)
    (mu, topEigen(cov, k))
  }

  /** Driver entry: per-vector top-2 principal coordinates. */
  def project(s: SparkSession, d: String): DataFrame = {
    val (mu, eig) = fit(s, d)
    val cols = eig.zipWithIndex.map { case ((_, v), c) =>
      val vLit = array(v.map(lit): _*)
      val offset = dotV(mu, v) // scalar: (x−μ)·v = x·v − μ·v
      (floor((VectorFunctions.dot(col("embedding"), vLit) - lit(offset)) * 1e6 + 0.5) / 1e6)
        .as(s"pc${c + 1}")
    }
    Tables.embeddings(s, d)
      .select(col("vec_id") +: col("label") +: cols: _*)
  }

  /** Whitened-distance outlier screen — dims used by the Mahalanobis cut. */
  private val OutlierK = 16

  /** EMBEDDING OUTLIER SCREEN — the pre-index sanity gate of an embedding
    * pipeline (failed encoders emit near-zero, saturated, or off-manifold
    * vectors that poison ANN cells and centroid stats): per-vector
    * Mahalanobis-style whitened squared distance in the top-`OutlierK`
    * eigenspace, m² = Σᵢ ((x−μ)·eᵢ)²/λᵢ — each component's variance is
    * normalized away, so the score is scale-free and its corpus MEAN is
    * exactly k (the projected variance along eᵢ IS λᵢ — the PcaSpec
    * invariant), making "m² ≫ k" a calibrated cut with no tuning.
    * Projection is the same broadcast-literal codegen'd dot as
    * [[project]]; map-only after the one moments pass. Top-20 by score
    * (id tie-break). Hash-green as of r5: the eigensolve replays in SQL
    * (outlierSql below); PcaSpec asserts the mean-is-k calibration. */
  def outlierWhitened(s: SparkSession, d: String): DataFrame = {
    val (mu, eig) = fit(s, d, OutlierK)
    val m2 = eig.map { case (lambda, v) =>
      val vLit = array(v.map(lit): _*)
      val proj = VectorFunctions.dot(col("embedding"), vLit) - lit(dotV(mu, v))
      proj * proj / lit(lambda)
    }.reduce(_ + _)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        (floor(m2 * 1e6 + 0.5) / 1e6).as("m2"))
      .orderBy(desc("m2"), asc("vec_id"))
      .limit(20)
  }

  // ---- the EIGENSOLVE replayed in SQL (CONVERTED rows-only → hash-green,
  // r5 finale): the moments are already fixed-point-exact, and the power
  // iteration is deterministic pure arithmetic — so it unrolls into
  // DuckDB as k chained RECURSIVE CTEs, each alternating matvec /
  // normalize steps (600 half-steps == the Scala 300 (matvec∘normalize)
  // loop; alternation keeps every list-lambda evaluated ONCE — inlining
  // the matvec into the normalize comprehension re-evaluates it per
  // element, the repo's interpreted-HOF trap, measured 300× slower).
  // Matrix CTEs are MATERIALIZED: DuckDB inlines CTEs by default, which
  // would re-run the whole moments pipeline every recursion step.
  // Every float op matches the Scala chain (left folds, /1e10 then /n,
  // sqrt-then-divide, lowest-index abs-max sign pivot), so the fitted
  // basis — and everything projected through it — is bit-identical.

  /** WITH-body through `ok$k` CTEs: one (lam, ev, off) row per component,
    * off = μ·eᵢ (the projection offset). Shared by the three consumers
    * (projection, outlier screen, Ann's PCA tier). */
  private[similarity] def eigenCtesSql(k: Int): String = {
    def powerCte(c: Int, prevm: String): String = {
      val matvec = s"[list_sum([mm.mat[ra][ia] * pw$c.v[ia] FOR ia IN generate_series(1, $Dim)]) FOR ra IN generate_series(1, $Dim)]"
      val norm = s"[pw$c.v[rb] / sqrt(list_sum([pw$c.v[ib] * pw$c.v[ib] FOR ib IN generate_series(1, $Dim)])) FOR rb IN generate_series(1, $Dim)]"
      s"""pw$c AS (
         |  SELECT 0 AS t, [1.0 / 8.0 FOR q IN generate_series(1, $Dim)] AS v
         |  UNION ALL
         |  SELECT t + 1, CASE WHEN t % 2 = 0 THEN $matvec ELSE $norm END
         |  FROM pw$c, $prevm mm WHERE t < 600),
         |ek$c AS MATERIALIZED (
         |  SELECT lam, CASE WHEN v[pv] < 0 THEN [-x FOR x IN v] ELSE v END AS ev
         |  FROM (
         |    SELECT v,
         |      list_sum([v[i] * mvv[i] FOR i IN generate_series(1, $Dim)]) AS lam,
         |      (SELECT i FROM generate_series(1, $Dim) g(i) ORDER BY abs(v[i]) DESC, i LIMIT 1) AS pv
         |    FROM (SELECT pw.v AS v,
         |            [list_sum([mm.mat[rc][ic] * pw.v[ic] FOR ic IN generate_series(1, $Dim)]) FOR rc IN generate_series(1, $Dim)] AS mvv
         |          FROM (SELECT v FROM pw$c WHERE t = 600) pw, $prevm mm))),
         |m$c AS MATERIALIZED (
         |  SELECT [[ mm.mat[r][c] - ek.lam * ek.ev[r] * ek.ev[c]
         |            FOR c IN generate_series(1, $Dim)] FOR r IN generate_series(1, $Dim)] AS mat
         |  FROM $prevm mm, ek$c ek),
         |ok$c AS MATERIALIZED (
         |  SELECT ek.lam, ek.ev,
         |    list_sum([muv.mu[i] * ek.ev[i] FOR i IN generate_series(1, $Dim)]) AS off
         |  FROM ek$c ek, muv)""".stripMargin
    }
    val powers = (1 to k)
      .map(c => powerCte(c, if (c == 1) "m0" else s"m${c - 1}"))
      .mkString(",\n")
    s"""mom AS MATERIALIZED (
       |  SELECT i, j,
       |    SUM(CAST(floor(xi * xj * 1e10 + 0.5) AS BIGINT)) AS sxx,
       |    SUM(CASE WHEN i = j THEN CAST(floor(xi * 1e10 + 0.5) AS BIGINT) END) AS sx,
       |    COUNT(*) AS n
       |  FROM (
       |    SELECT i, j, xi, CAST(embedding[j] AS DOUBLE) AS xj FROM (
       |      SELECT i, xi, unnest(generate_series(1, $Dim)) AS j, embedding FROM (
       |        SELECT CAST(embedding[i] AS DOUBLE) AS xi, i, embedding FROM (
       |          SELECT embedding, unnest(generate_series(1, $Dim)) AS i FROM embeddings))))
       |  WHERE j >= i GROUP BY i, j),
       |nn AS (SELECT n FROM mom WHERE i = 1 AND j = 1),
       |sym AS (
       |  SELECT i, j, CAST(sxx AS DOUBLE) / 1e10 AS sv FROM mom
       |  UNION ALL
       |  SELECT j, i, CAST(sxx AS DOUBLE) / 1e10 FROM mom WHERE i != j),
       |sxt AS (SELECT i, CAST(sx AS DOUBLE) / 1e10 AS sxv FROM mom WHERE i = j),
       |covt AS (
       |  SELECT s.i, s.j,
       |    s.sv / (SELECT n FROM nn) -
       |    (a.sxv / (SELECT n FROM nn)) * (b.sxv / (SELECT n FROM nn)) AS cv
       |  FROM sym s JOIN sxt a ON a.i = s.i JOIN sxt b ON b.i = s.j),
       |m0 AS MATERIALIZED (SELECT list(row ORDER BY r) AS mat FROM (
       |  SELECT i AS r, list(cv ORDER BY j) AS row FROM covt GROUP BY i) GROUP BY ALL),
       |muv AS MATERIALIZED (SELECT list(sxv / (SELECT n FROM nn) ORDER BY i) AS mu FROM sxt),
       |$powers""".stripMargin
  }

  private def projectSql: String = {
    val pcs = (1 to TopK).map(c =>
      s"""floor((list_sum([CAST(e.embedding[i] AS DOUBLE) * ok$c.ev[i] FOR i IN generate_series(1, $Dim)])
         | - ok$c.off) * 1e6 + 0.5) / 1e6 AS pc$c""".stripMargin).mkString(",\n ")
    val okFrom = (1 to TopK).map(c => s"ok$c").mkString(", ")
    s"""WITH RECURSIVE
       |${eigenCtesSql(TopK)}
       |SELECT e.vec_id, e.label,
       | $pcs
       |FROM embeddings e, $okFrom ORDER BY vec_id""".stripMargin
  }

  private def outlierSql: String = {
    // the same left-associated 16-term sum as the Scala reduce(_ + _).
    // Each term inlines its projection TWICE (p·p): correlating a
    // LATERAL-bound scalar into a list lambda is unsupported, and both
    // evaluations of the same deterministic expression yield the
    // identical double, so the square is exact.
    def p(c: Int) =
      s"(list_sum([CAST(e.embedding[i$c] AS DOUBLE) * ok$c.ev[i$c] FOR i$c IN generate_series(1, $Dim)]) - ok$c.off)"
    val m2 = (1 to OutlierK).map(c => s"${p(c)} * ${p(c)} / ok$c.lam").mkString(" + ")
    val okFrom = (1 to OutlierK).map(c => s"ok$c").mkString(", ")
    s"""WITH RECURSIVE
       |${eigenCtesSql(OutlierK)}
       |SELECT vec_id, label, m2 FROM (
       |  SELECT e.vec_id, e.label, floor(($m2) * 1e6 + 0.5) / 1e6 AS m2
       |  FROM embeddings e, $okFrom) t
       |ORDER BY m2 DESC, vec_id LIMIT 20""".stripMargin
  }

  override def entries: Seq[(String, QueryFn, Option[String])] = Seq(
    ("emb_pca_project", project _, Some(projectSql)),
    ("emb_outlier_whitened", outlierWhitened _, Some(outlierSql)))
}
