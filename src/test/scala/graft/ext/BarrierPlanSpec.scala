package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Plan-shape guards for the r13 pushdown barrier + table fan-out: the
  * expensive tokenize/shingle guard must evaluate ABOVE the fan-out
  * exchange (32-way), never inside the single-task scan stage, and the
  * barrier must survive optimization (Spark 4's OptimizeRand folded the
  * rand()-disjunct variant right back out — this spec pins the custom-
  * expression variant against that class of regression).
  */
class BarrierPlanSpec extends SparkSpec {
  import spark.implicits._

  test("noPushdown keeps an expensive guard above the projection that feeds it") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "x")).toDF("id", "text")
    val plan = df
      .repartition(4, col("id"))
      .select(col("id"), split(lower(col("text")), " ").as("tk"))
      .where(graft.ops.Plans.noPushdown(size(col("tk")) >= 2))
      .queryExecution.executedPlan
    val nodes = allNodes(plan)
    // the barrier must still be present post-optimization...
    val barrierFilters = nodes.collect {
      case f: FilterExec if f.condition.toString.contains("graft_barrier") => f
    }
    assert(barrierFilters.nonEmpty, s"barrier filter folded away:\n$plan")
    // ...and no filter below any exchange may contain the split() guard
    // (pushdown through the exchange is exactly the regression)
    def below(p: SparkPlan): Seq[SparkPlan] = p match {
      case e: Exchange => allNodes(e.child)
      case a: AdaptiveSparkPlanExec => below(a.executedPlan)
      case s: QueryStageExec => below(s.plan)
      case other => other.children.flatMap(below)
    }
    val pushed = below(plan).collect {
      case f: FilterExec if f.condition.toString.contains("split") => f
    }
    assert(pushed.isEmpty,
      s"expensive guard was pushed below the exchange:\n$plan")
  }

  test("PlanBarrier is a value-level identity") {
    val df = Seq((1, 5), (2, 1), (3, 3)).toDF("id", "v")
    val got = df.where(graft.ops.Plans.noPushdown(col("v") >= 3))
      .select("id").collect().map(_.getInt(0)).toSet
    assert(got == Set(1, 3))
  }

  test("Tables.load fans CPU-heavy payload tables out to session parallelism") {
    // sf0.1 documents is a 1-row-group file over the size guard — must
    // fan out; numeric fact tables (lineitem) and tiny dims (nation) are
    // excluded by design (see Tables.fanKeys)
    val df = graft.Tables.load(spark, "/root/testdata/sf0.1", "documents")
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      s"fan-out missing: ${df.rdd.getNumPartitions} partitions")
    val li = graft.Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
    assert(li.rdd.getNumPartitions == 1,
      s"numeric fact table must not fan out by default: ${li.rdd.getNumPartitions}")
    val nation = graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")
    assert(nation.rdd.getNumPartitions == 1,
      s"tiny dim must not fan out: ${nation.rdd.getNumPartitions}")
  }
}
