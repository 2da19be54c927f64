package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions._

class LinkPredSpec extends SparkSpec {
  import spark.implicits._

  // path graph 1-2-3: the only candidate is (1,3) through center 2
  // (deg 2), score = 1/ln(2)
  test("adamicAdar: path graph scores the single missing edge") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = Graph.adamicAdar(edges).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("id_a") === 1L && row.getAs[Long]("id_b") === 3L)
    assert(row.getAs[Long]("n_common") === 1L)
    assert(math.abs(row.getAs[Double]("score") - 1.0 / math.log(2.0)) < 1e-6)
  }

  test("adamicAdar: existing edges never appear as candidates") {
    // triangle + a pendant: candidates must exclude the triangle's edges
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.adamicAdar(edges).collect()
    val pairs = r.map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSet
    assert(!pairs.contains((1L, 2L)) && !pairs.contains((2L, 3L)) &&
      !pairs.contains((1L, 3L)))
    // 4 is two hops from 1 and 2 through center 3 (deg 3)
    assert(pairs === Set((1L, 4L), (2L, 4L)))
  }

  test("adamicAdar: two common neighbors sum their weights exactly") {
    // square 1-2-3-4-1: pair (1,3) has common neighbors 2 and 4 (deg 2
    // each) -> floor-fixed-point sum of two 1/ln(2) terms
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r = Graph.adamicAdar(edges).collect()
      .map(x => ((x.getAs[Long]("id_a"), x.getAs[Long]("id_b")),
        (x.getAs[Long]("n_common"), x.getAs[Double]("score")))).toMap
    assert(r((1L, 3L))._1 === 2L)
    val one = math.floor(1e9 / math.log(2.0)) / 1e9
    assert(math.abs(r((1L, 3L))._2 - BigDecimal(2 * one)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("adamicAdar: center-degree cap drops hub wedges") {
    // star center 0 with 5 leaves: capping at 4 removes every candidate
    val edges = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    assert(Graph.adamicAdar(edges, maxCenterDegree = 4).count() === 0L)
    // uncapped: all C(5,2)=10 leaf pairs appear
    assert(Graph.adamicAdar(edges, maxCenterDegree = 500).count() === 10L)
  }

  test("adamicAdar is partitioning-invariant") {
    val edges = (1 to 60).map(i => (i.toLong, ((i * 7) % 20 + 100).toLong))
      .toDF("src", "dst")
    val a = Graph.adamicAdar(edges.repartition(1)).collect().toSeq
    val b = Graph.adamicAdar(edges.repartition(7)).collect().toSeq
    assert(a === b)
  }

  private val planEdges = (1 to 300).map(i =>
    ((i % 40).toLong, ((i * 13) % 37 + 50).toLong)).toDF("src", "dst")

  test("plan: adamicAdar wedge join is equi-keyed — no cartesian product") {
    val q = Graph.adamicAdar(planEdges)
    q.collect()
    assert(!allNodes(q.queryExecution.executedPlan).exists(_.isInstanceOf[CartesianProductExec]),
      "adamicAdar planned a cartesian product")
  }
}
