package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** The co-located-join contract: two tables bucketed the same way join
  * with ZERO exchange — the shuffle is paid once at ingest.
  */
class BucketedJoinPlanSpec extends SparkSpec {

  test("bucketed join runs as a sort-merge join with no shuffle exchange") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val left = (1 to 500).map(i => (i.toLong, s"seg${i % 4}")).toDF("k", "seg")
    val right = (1 to 2000).map(i => (i.toLong % 500 + 1, i.toDouble)).toDF("fk", "amt")
    Layout.writeBucketed(left, "graft_test_left_b", s"$dir/left", "k", 4)
    Layout.writeBucketed(right, "graft_test_right_b", s"$dir/right", "fk", 4)
    val joined = Layout.bucketedJoin(spark, "graft_test_left_b",
      "graft_test_right_b", "k", "fk")
    val n = joined.count()
    assert(n === 2000L) // every fk in 1..500 matches
    val nodes = allNodes(joined.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]), "expected SMJ")
    assert(!nodes.exists(_.isInstanceOf[Exchange]),
      "bucketed join must not shuffle:\n" +
        joined.queryExecution.executedPlan.toString)
    spark.sql("DROP TABLE IF EXISTS graft_test_left_b")
    spark.sql("DROP TABLE IF EXISTS graft_test_right_b")
  }

  test("join result matches the unbucketed baseline") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed2").toString
    val left = (1 to 100).map(i => (i.toLong, i * 10)).toDF("k", "v")
    val right = (1 to 300).map(i => (i.toLong % 100 + 1, i)).toDF("fk", "w")
    Layout.writeBucketed(left, "graft_test_l2", s"$dir/l", "k", 3)
    Layout.writeBucketed(right, "graft_test_r2", s"$dir/r", "fk", 3)
    val bucketed = Layout.bucketedJoin(spark, "graft_test_l2", "graft_test_r2",
        "k", "fk")
      .groupBy("k").agg(sum("w").as("sw")).orderBy("k").collect()
    val plain = left.join(right, col("k") === col("fk"))
      .groupBy("k").agg(sum("w").as("sw")).orderBy("k").collect()
    assert(bucketed.toSeq === plain.toSeq)
    spark.sql("DROP TABLE IF EXISTS graft_test_l2")
    spark.sql("DROP TABLE IF EXISTS graft_test_r2")
  }
}
