package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Plan-shape assertions for the round-13 operators: no quadratic or
  * single-task constructs on paths that must survive 100× data.
  */
class R13PlanSpec extends SparkSpec {
  import spark.implicits._

  private def noCartesian(nodes: Seq[SparkPlan], what: String): Unit =
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
      s"$what planned a cartesian product")

  private val edges = (1 to 300).map(i =>
    ((i % 40).toLong, ((i * 13) % 37 + 50).toLong)).toDF("src", "dst")

  test("plan: adamicAdar wedge join is equi-keyed — no cartesian product") {
    val q = Graph.adamicAdar(edges)
    q.collect()
    noCartesian(allNodes(q.queryExecution.executedPlan), "adamicAdar")
  }

  test("plan: hitsBipartite iterations are equi-joins — no cartesian") {
    graft.Caches.scoped {
      val q = Graph.hitsBipartite(edges)
      q.collect()
      noCartesian(allNodes(q.queryExecution.executedPlan), "hitsBipartite")
    }
  }

  test("plan: labelPropagation rounds are equi-joins — no cartesian") {
    graft.Caches.scoped {
      val q = Graph.labelPropagation(edges, iters = 2)
      q.collect()
      noCartesian(allNodes(q.queryExecution.executedPlan), "labelPropagation")
    }
  }

  test("plan: paretoFrontier2d has no unpartitioned window over the data") {
    val pts = (1 to 500).map(i =>
      ((i * 37 % 101).toDouble, (i * 53 % 89).toDouble)).toDF("x", "y")
    val q = graft.ops.Eda.paretoFrontier2d(pts, "x", "y")
    q.collect()
    val nodes = allNodes(q.queryExecution.executedPlan)
    noCartesian(nodes, "paretoFrontier2d")
    // the per-x running max must be keyed by the range-partition pid;
    // the only unpartitioned window allowed is the one over the
    // per-partition maxima (bounded by the partition count)
    val wins = nodes.collect { case w: WindowExec => w }
    val unkeyed = wins.filter(_.partitionSpec.isEmpty)
    assert(unkeyed.size <= 1,
      s"more than one global window: ${unkeyed.mkString("\n")}")
  }

  test("plan: aucExact's rank prefix sum is pid-keyed, not one global window") {
    val df = (1 to 400).map(i => (math.sin(i), i % 3 == 0)).toDF("s", "y")
    val q = graft.ml.Eval.aucExact(df, "s", col("y"))
    q.collect()
    val nodes = allNodes(q.queryExecution.executedPlan)
    val wins = nodes.collect { case w: WindowExec => w }
    val unkeyed = wins.filter(_.partitionSpec.isEmpty)
    // prefixSumCdf legitimately runs TWO unpartitioned windows, both over
    // the pid-totals aggregate (≤ shuffle-partition-count rows): the
    // straddle count and the offset prefix sum. The corpus-sized CDF rows
    // themselves go through the pid-KEYED local window only — assert no
    // third global window appears (that would be a data-sized sort).
    assert(unkeyed.size <= 2,
      s"auc rank computation fell back to a global window: $unkeyed")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "expected a pid-keyed local cumsum window")
  }
}
