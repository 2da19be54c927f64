package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions._

class HitsSpec extends SparkSpec {
  import spark.implicits._

  test("hitsBipartite: the hub touching every authority dominates") {
    // hub 1 -> {10, 11, 12}; hubs 2, 3 -> {10} only
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (3L, 10L))
      .toDF("src", "dst")
    val r = Graph.hitsBipartite(e).collect()
    val hubs = r.filter(_.getString(0) == "hub")
    assert(hubs.head.getAs[Long]("id") === 1L)
    assert(hubs.head.getAs[Double]("score") === 1.0) // max-scaled
    val auths = r.filter(_.getString(0) == "authority")
    assert(auths.head.getAs[Long]("id") === 10L) // pointed at by all three
    assert(auths.head.getAs[Double]("score") === 1.0)
  }

  // score_raw is DECIMAL(38,0) (a long cast silently nulls past 2^63 and
  // nulls sort last under DESC, dropping the largest hubs) — compare as long
  private def rawLong(x: org.apache.spark.sql.Row): Long =
    x.getAs[java.math.BigDecimal]("score_raw").longValueExact()

  test("hitsBipartite: iteration-1 authority score is the indegree") {
    val e = Seq((1L, 10L), (2L, 10L), (3L, 11L)).toDF("src", "dst")
    val r = Graph.hitsBipartite(e, iters = 1).collect()
      .filter(_.getString(0) == "authority")
      .map(x => x.getAs[Long]("id") -> rawLong(x)).toMap
    assert(r === Map(10L -> 2L, 11L -> 1L))
  }

  test("hitsBipartite: duplicate edges collapse before scoring") {
    val e = Seq((1L, 10L), (1L, 10L), (2L, 10L)).toDF("src", "dst")
    val r = Graph.hitsBipartite(e, iters = 1).collect()
      .filter(_.getString(0) == "authority")
    assert(rawLong(r.head) === 2L)
  }

  test("hitsBipartite is partitioning-invariant") {
    val e = (1 to 120).map(i => ((i % 11).toLong, (100 + i % 7).toLong))
      .toDF("src", "dst")
    val a = Graph.hitsBipartite(e.repartition(1)).collect().toSeq
    val b = Graph.hitsBipartite(e.repartition(9)).collect().toSeq
    assert(a === b)
  }

  private val planEdges = (1 to 300).map(i =>
    ((i % 40).toLong, ((i * 13) % 37 + 50).toLong)).toDF("src", "dst")

  test("plan: hitsBipartite iterations are equi-joins — no cartesian") {
    graft.Caches.scoped {
      val q = Graph.hitsBipartite(planEdges)
      q.collect()
      assert(!allNodes(q.queryExecution.executedPlan).exists(_.isInstanceOf[CartesianProductExec]),
        "hitsBipartite planned a cartesian product")
    }
  }
}
