package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

class SkylineCcfSpec extends SparkSpec {
  import spark.implicits._

  private def bruteFrontier(pts: Seq[(Double, Double)]): Set[(Double, Double)] = {
    val d = pts.distinct
    d.filter { case (x, y) =>
      !d.exists { case (ux, uy) =>
        ux <= x && uy >= y && (ux < x || uy > y)
      }
    }.toSet
  }

  test("paretoFrontier2d matches the brute dominance set") {
    val pts = (1 to 400).map(i =>
      ((i * 37 % 101).toDouble, (i * 53 % 89).toDouble))
    val df = pts.toDF("x", "y")
    val got = Eda.paretoFrontier2d(df, "x", "y").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(got === bruteFrontier(pts))
  }

  test("paretoFrontier2d: duplicate and same-x points collapse correctly") {
    val df = Seq((1.0, 5.0), (1.0, 5.0), (1.0, 3.0), (2.0, 5.0), (2.0, 6.0),
      (3.0, 6.0)).toDF("x", "y")
    // x=1 keeps y=5; x=2 keeps y=6 (strictly above 5); x=3 y=6 dominated
    val got = Eda.paretoFrontier2d(df, "x", "y").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(got === Seq((1.0, 5.0), (2.0, 6.0)))
  }

  test("paretoFrontier2d is partitioning-invariant") {
    val pts = (1 to 300).map(i =>
      ((i * 7 % 59).toDouble, (i * 11 % 47).toDouble))
    val a = Eda.paretoFrontier2d(pts.toDF("x", "y").repartition(1), "x", "y")
      .collect().toSeq
    val b = Eda.paretoFrontier2d(pts.toDF("x", "y").repartition(9), "x", "y")
      .collect().toSeq
    assert(a === b)
  }

  test("crossCorrelation: a shifted copy peaks at exactly its lag") {
    // b on day t+1 equals a on day t -> perfect correlation at lag +1
    val days = 0 until 30
    val aEvents = days.flatMap(t =>
      Seq.fill(t % 7 + 1)((t.toLong * 86400L + 10L, "click")))
    val bEvents = days.flatMap(t =>
      Seq.fill(t % 7 + 1)(((t + 1).toLong * 86400L + 20L, "purchase")))
    val df = (aEvents ++ bEvents)
      .map { case (sec, et) => (new java.sql.Timestamp(sec * 1000L), et) }
      .toDF("ts", "event_type")
    val r = Resample.crossCorrelation(df, "ts", "event_type",
      "click", "purchase", maxLag = 2).collect()
      .map(x => x.getAs[Int]("lag") -> x.getAs[Double]("ccf")).toMap
    assert(r(1) === 1.0)
    assert(r.keys.toSeq.sorted === Seq(-2, -1, 0, 1, 2))
    assert(r.filterNot(_._1 == 1).values.forall(_ < 1.0))
  }

  test("crossCorrelation is partitioning-invariant") {
    val df = (1 to 500).map(i =>
      (new java.sql.Timestamp((i % 40).toLong * 86400000L + i),
        if (i % 3 == 0) "click" else "purchase"))
      .toDF("ts", "event_type")
    val a = Resample.crossCorrelation(df.repartition(1), "ts", "event_type",
      "click", "purchase").collect().toSeq
    val b = Resample.crossCorrelation(df.repartition(7), "ts", "event_type",
      "click", "purchase").collect().toSeq
    assert(a === b)
  }

  test("plan: paretoFrontier2d has no unpartitioned window over the data") {
    val pts = (1 to 500).map(i =>
      ((i * 37 % 101).toDouble, (i * 53 % 89).toDouble)).toDF("x", "y")
    val q = Eda.paretoFrontier2d(pts, "x", "y")
    q.collect()
    val nodes = allNodes(q.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
      "paretoFrontier2d planned a cartesian product")
    // the per-x running max is keyed by the range-partition pid, and the
    // max of the earlier partitions is a fold over the collected
    // per-partition maxima: no unpartitioned window at all
    val wins = nodes.collect { case w: WindowExec => w }
    val unkeyed = wins.filter(_.partitionSpec.isEmpty)
    assert(unkeyed.isEmpty, s"global window: ${unkeyed.mkString("\n")}")
  }
}
