package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.round6

/** Dimensionality reduction for embedding columns: Johnson–Lindenstrauss
  * random projection and PCA via deterministic power iteration. North-star
  * extensions (no reference counterpart) — the standard preprocessing in
  * front of ANN / clustering at 100 TB, where 64→16 dims cuts every
  * downstream shuffle and distance computation 4×.
  *
  * Determinism contracts:
  *  - Random projection signs come from md5(k:i) parity, resolved at PLAN
  *    time into ±1 literals — no RNG state, reproducible across sessions,
  *    and the oracle regenerates the identical signs from the same
  *    function.
  *  - PCA moment sums are per-row truncated fixed-point longs summed in
  *    DECIMAL (order-invariant, overflow-free); everything after the sums
  *    is a shared double formula DAG with all folds in index order, so an
  *    external oracle replaying the DAG gets bit-identical loadings.
  */
object DimReduce {

  /** ±1.0 sign for output dim k, input dim i — md5 parity, the same
    * convention [[Dedup.hashParams]] uses for hash-family seeds. Public
    * on purpose: OracleSql regenerates the projection matrix from it.
    */
  def jlSign(k: Int, i: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft_jl:$k:$i".getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1.0 else -1.0
  }

  /** JL random projection: outDim columns p_k = (Σ_i ±e_i) / sqrt(outDim)
    * with md5-parity signs. The whole projection is a flat codegen'd
    * arithmetic expression per output dim (signs are literals, the sum is
    * a left-associated chain) — a narrow map, no shuffle, no UDF, no
    * interpreted HOF in the hot path.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      inDim: Int, outDim: Int): DataFrame = {
    require(inDim > 0 && outDim > 0, s"dims must be positive: $inDim, $outDim")
    val e = col(vecCol)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val projCols = (0 until outDim).map { k =>
      val terms = (0 until inDim).map { i =>
        element_at(e, i + 1).cast("double") * lit(jlSign(k, i))
      }
      round(terms.reduceLeft(_ + _) * lit(scale), 6).as(s"p_$k")
    }
    df.select(col(idCol).as("id") +: projCols: _*)
  }

  // ---- PCA --------------------------------------------------------------

  /** Scale factor for the fixed-point moment sums: per-row doubles are
    * truncated at 1e-12, sums ride DECIMAL(38,0) so ~1e17 rows of O(1)
    * values fit without overflow.
    */
  val FixedScale = 1e12

  /** One-pass moment sums over dims [0, d): count, Σx_i, Σx_i·x_j
    * (upper triangle) — each per-row product truncated to a fixed-point
    * long and summed exactly in DECIMAL. One scan, map-side partials,
    * d(d+3)/2 aggregate columns.
    */
  def momentSums(df: DataFrame, vecCol: String, d: Int): DataFrame = {
    require(d > 0, s"d must be positive: $d")
    def x(i: Int): Column = element_at(col(vecCol), i + 1).cast("double")
    def fp(c: Column): Column =
      (c * lit(FixedScale)).cast("long").cast("decimal(38,0)")
    val sums =
      (0 until d).map(i => sum(fp(x(i))).cast("double").as(s"s_$i")) ++
      (for (i <- 0 until d; j <- i until d)
        yield sum(fp(x(i) * x(j))).cast("double").as(s"q_${i}_$j"))
    df.agg(count(lit(1)).cast("double").as("n"), sums: _*)
  }

  /** Covariance matrix from [[momentSums]] — the shared double DAG:
    * cov_ij = (q_ij/scale)/n − ((s_i/scale)/n)·((s_j/scale)/n).
    */
  def covarianceFromSums(row: org.apache.spark.sql.Row, d: Int): Array[Array[Double]] = {
    val n = row.getAs[Double]("n")
    val mean = Array.tabulate(d)(i => row.getAs[Double](s"s_$i") / FixedScale / n)
    val cov = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val q = row.getAs[Double](s"q_${i}_$j") / FixedScale / n
      val c = q - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    cov
  }

  /** (i, j, cov) upper triangle, rounded to 6 — the oracle-gated witness
    * that the distributed moment pass is right. The matrix itself is a
    * bounded decision-point aggregate (d×d doubles), never corpus-sized.
    */
  def covariance(df: DataFrame, vecCol: String, d: Int): DataFrame = {
    val row = momentSums(df, vecCol, d).head()
    val cov = covarianceFromSums(row, d)
    val spark = df.sparkSession
    import spark.implicits._
    (for (i <- 0 until d; j <- i until d)
      yield (i.toLong, j.toLong, round6(cov(i)(j))))
      .toDF("i", "j", "cov")
  }

  /** One power-iteration step + eigenvalue: every fold runs in ascending
    * index order (the oracle replays the identical DAG).
    */
  private def matvec(cov: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val d = v.length
    Array.tabulate(d) { i =>
      var acc = 0.0; var j = 0
      while (j < d) { acc = acc + cov(i)(j) * v(j); j += 1 }
      acc
    }
  }

  private def norm2(w: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < w.length) { acc = acc + w(i) * w(i); i += 1 }
    acc
  }

  /** Deterministic power iteration from v0 = e_0, `iters` fixed steps (no
    * data-dependent convergence test — the oracle unrolls the same count).
    * Sign convention: the component with the largest |loading| (smallest
    * index on ties) is made positive. Returns (loadings, eigenvalue).
    */
  def powerIteration(cov: Array[Array[Double]], iters: Int): (Array[Double], Double) = {
    val d = cov.length
    var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 0 until iters) {
      val w = matvec(cov, v)
      val n = math.sqrt(norm2(w))
      v = if (n == 0.0) w else w.map(_ / n)
    }
    val w = matvec(cov, v)
    var lambda = 0.0
    for (i <- 0 until d) lambda = lambda + v(i) * w(i)
    var k = 0
    for (i <- 1 until d) if (math.abs(v(i)) > math.abs(v(k))) k = i
    val s = if (v(k) < 0.0) -1.0 else 1.0
    (v.map(_ * s), lambda)
  }

  /** Top-k components by power iteration with Hotelling deflation
    * (C ← C − λ·v·vᵀ after each component). Driver-side on the bounded
    * d×d matrix; deterministic end to end.
    */
  def topComponents(cov: Array[Array[Double]], k: Int, iters: Int = 50): Seq[(Array[Double], Double)] = {
    val d = cov.length
    require(k >= 1 && k <= d, s"k must be in [1, $d]: $k")
    val c = cov.map(_.clone())
    (0 until k).map { _ =>
      val (v, lambda) = powerIteration(c, iters)
      for (i <- 0 until d; j <- 0 until d)
        c(i)(j) = c(i)(j) - lambda * v(i) * v(j)
      (v, lambda)
    }
  }

  /** The oracle-gated PCA query: top principal component of dims [0, d)
    * as (dim, loading, eigenvalue) rows. Distributed moment pass →
    * bounded driver eigensolve — the kmeans/IVF decision-point pattern.
    */
  def topComponent(df: DataFrame, vecCol: String, d: Int, iters: Int): DataFrame = {
    val row = momentSums(df, vecCol, d).head()
    val (v, lambda) = powerIteration(covarianceFromSums(row, d), iters)
    val spark = df.sparkSession
    import spark.implicits._
    v.toSeq.zipWithIndex.map { case (x, i) =>
      (i.toLong, round6(x), round6(lambda))
    }.toDF("dim", "loading", "eigenvalue")
  }

  /** End-to-end PCA: moment pass → driver power iteration → project every
    * row onto the learned top component (dims [0, d)). The learned
    * loadings become plan-time literals, so the projection is the same
    * codegen'd narrow map as [[pcaProject]].
    */
  def pcaProjectTop(df: DataFrame, idCol: String, vecCol: String,
      d: Int, iters: Int): DataFrame = {
    val row = momentSums(df, vecCol, d).head()
    val (v, _) = powerIteration(covarianceFromSums(row, d), iters)
    pcaProject(df, idCol, vecCol, Seq(v))
  }

  /** Project each row onto precomputed components — flat codegen'd dot
    * products (loadings are plan-time literals), the same narrow-map
    * shape as [[randomProject]].
    */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String,
      components: Seq[Array[Double]]): DataFrame = {
    require(components.nonEmpty, "components must be non-empty")
    val cols = components.zipWithIndex.map { case (v, k) =>
      val terms = v.toIndexedSeq.zipWithIndex.map { case (w, i) =>
        element_at(col(vecCol), i + 1).cast("double") * lit(w)
      }
      round(terms.reduceLeft(_ + _), 6).as(s"pc_$k")
    }
    df.select(col(idCol).as("id") +: cols: _*)
  }
}
