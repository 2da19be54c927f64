package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.Exchange

class DimReduceSpec extends SparkSpec {
  import spark.implicits._

  test("randomProject of a basis vector reproduces the sign column") {
    // e_3 (1 at input dim 2): p_k = jlSign(k, 2) / sqrt(4)
    val df = Seq((7L, Array.tabulate(8)(i => if (i == 2) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val r = DimReduce.randomProject(df, "vec_id", "embedding", 8, 4).head()
    for (k <- 0 until 4)
      assert(r.getDouble(1 + k) == DimReduce.jlSign(k, 2) / 2.0)
  }

  test("jlSign is a deterministic ±1 family, roughly balanced") {
    val signs = for (k <- 0 until 8; i <- 0 until 64) yield DimReduce.jlSign(k, i)
    assert(signs.forall(s => s == 1.0 || s == -1.0))
    val pos = signs.count(_ == 1.0)
    assert(pos > signs.size / 3 && pos < 2 * signs.size / 3)
    assert(DimReduce.jlSign(3, 17) == DimReduce.jlSign(3, 17))
  }

  test("randomProject preserves cosine-structure invariants") {
    // projection is linear, so exact duplicates and positive scalings
    // keep cosine 1 in the projected space — sign-choice independent
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val df = Seq((1L, v), (2L, v), (3L, v.map(_ * 2f)))
      .toDF("vec_id", "embedding")
    val proj = DimReduce.randomProject(df, "vec_id", "embedding", 8, 4)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getDouble)).toMap
    assert(proj(1L) == proj(2L))
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // rounding to 6dp perturbs slightly — near-1, not bit-exact
    assert(cos(proj(1L), proj(3L)) > 0.999999)
  }

  test("momentSums -> covarianceFromSums matches a direct computation") {
    val vecs = Seq(
      Array(1.0f, 2.0f, 0.5f), Array(2.0f, 0.0f, 1.5f),
      Array(0.0f, 1.0f, -1.0f), Array(3.0f, -2.0f, 0.0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val cov = DimReduce.covarianceFromSums(
      DimReduce.momentSums(df, "embedding", 3).head(), 3)
    val n = vecs.size.toDouble
    for (i <- 0 until 3; j <- 0 until 3) {
      val mi = vecs.map(_(i).toDouble).sum / n
      val mj = vecs.map(_(j).toDouble).sum / n
      val expect = vecs.map(v => v(i).toDouble * v(j)).sum / n - mi * mj
      assert(approx(cov(i)(j), expect, 1e-9), s"cov($i,$j)=${cov(i)(j)} vs $expect")
    }
  }

  test("powerIteration finds the dominant eigenpair of a known matrix") {
    // eigenvalues 3 (v=[1,1]/sqrt2) and 1 (v=[1,-1]/sqrt2)
    val cov = Array(Array(2.0, 1.0), Array(1.0, 2.0))
    val (v, lambda) = DimReduce.powerIteration(cov, 50)
    assert(approx(lambda, 3.0, 1e-9))
    assert(approx(v(0), 1.0 / math.sqrt(2.0), 1e-9))
    assert(approx(v(1), 1.0 / math.sqrt(2.0), 1e-9))
  }

  test("topComponents: orthonormal, descending eigenvalues, deflation exact") {
    val cov = Array( // symmetric PSD with distinct eigenvalues
      Array(4.0, 1.0, 0.5), Array(1.0, 3.0, 0.25), Array(0.5, 0.25, 1.0))
    val comps = DimReduce.topComponents(cov, 3, iters = 200)
    val ev = comps.map(_._2)
    assert(ev(0) > ev(1) && ev(1) > ev(2))
    // trace is preserved by the eigenvalues
    assert(approx(ev.sum, 8.0, 1e-6))
    for (a <- 0 until 3; b <- 0 until 3) {
      val dot = (0 until 3).map(i => comps(a)._1(i) * comps(b)._1(i)).sum
      assert(approx(dot, if (a == b) 1.0 else 0.0, 1e-6), s"<v$a,v$b>=$dot")
    }
  }

  test("pcaProject projects onto literal components") {
    val df = Seq((1L, Array(3.0f, 4.0f))).toDF("id", "embedding")
    val comps = Seq(Array(1.0, 0.0), Array(0.6, 0.8))
    val r = DimReduce.pcaProject(df, "id", "embedding", comps).head()
    assert(r.getDouble(1) == 3.0)
    assert(approx(r.getDouble(2), 0.6 * 3 + 0.8 * 4, 1e-6))
  }

  test("plan: JL projection is a pure narrow map — zero exchanges") {
    val emb = (1 to 50).map(i => (i.toLong, Array.tabulate(8)(j => (i + j).toFloat)))
      .toDF("vec_id", "embedding")
    val q = DimReduce.randomProject(emb, "vec_id", "embedding", 8, 4)
    q.collect()
    val nodes = allNodes(q.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[Exchange]),
      "randomProject introduced a shuffle")
  }
}
