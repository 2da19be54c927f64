package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions._

class LpaSpec extends SparkSpec {
  import spark.implicits._

  // two 4-cliques joined by a single bridge edge: LPA separates them
  // (connected components would merge everything into one label)
  private def twoCliques = {
    val c1 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val c2 = for (a <- 11L to 14L; b <- 11L to 14L if a < b) yield (a, b)
    (c1 ++ c2 :+ (4L, 11L)).toDF("src", "dst")
  }

  test("labelPropagation splits two bridged cliques") {
    val r = Graph.labelPropagation(twoCliques, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val left = (1L to 4L).map(r)
    val right = (11L to 14L).map(r)
    assert(left.distinct.size === 1, s"left clique split: $left")
    assert(right.distinct.size === 1, s"right clique split: $right")
    assert(left.head !== right.head, "bridge merged the cliques")
  }

  test("labelPropagation: a lone edge 2-cycles deterministically") {
    // the documented sync-LPA oscillation: each endpoint adopts the
    // other's label every round — fixed iters truncate it reproducibly
    val e = Seq((7L, 9L)).toDF("src", "dst")
    val r1 = Graph.labelPropagation(e, iters = 1).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r1 === Map(7L -> 9L, 9L -> 7L))
    val r2 = Graph.labelPropagation(e, iters = 2).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r2 === Map(7L -> 7L, 9L -> 9L))
  }

  test("labelPropagation is partitioning-invariant") {
    val e = (1 to 150).map(i => ((i % 13).toLong + 1, ((i * 5) % 17).toLong + 20))
      .toDF("src", "dst")
    val a = Graph.labelPropagation(e.repartition(1)).collect().toSeq
    val b = Graph.labelPropagation(e.repartition(8)).collect().toSeq
    assert(a === b)
  }

  private val planEdges = (1 to 300).map(i =>
    ((i % 40).toLong, ((i * 13) % 37 + 50).toLong)).toDF("src", "dst")

  test("plan: labelPropagation rounds are equi-joins — no cartesian") {
    graft.Caches.scoped {
      val q = Graph.labelPropagation(planEdges, iters = 2)
      q.collect()
      assert(!allNodes(q.queryExecution.executedPlan).exists(_.isInstanceOf[CartesianProductExec]),
        "labelPropagation planned a cartesian product")
    }
  }
}
