package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup is ~5 s, per-suite sessions would dominate test time).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    // a literal 4, not SPARK_GRAFT_CPUS: the plan goldens assume
    // local[4] with 4 shuffle partitions
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Each test is one query scope: frames its operators register are
    * released when it ends, so no cached intermediate outlives the test
    * and leaks into a later suite's plans (the shared session's cache
    * manager substitutes any cached plan it can match).
    */
  override def withFixture(test: NoArgTest): Outcome =
    Caches.scoped(super.withFixture(test))

  def doubles(df: DataFrame, c: String): Seq[Option[Double]] =
    df.select(c).collect().toIndexedSeq.map { r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }

  def approx(a: Double, b: Double, eps: Double = 1e-9): Boolean = math.abs(a - b) < eps

  /** Full plan traversal: AQE hides finished subtrees behind QueryStageExec
    * leaves, persisted frames behind InMemoryTableScanExec.
    */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }
}
