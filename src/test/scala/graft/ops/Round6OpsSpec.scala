package graft.ops

import graft.SparkSpec

/** Round-6 plan-shape goldens: the last four TPC-H adaptations must keep
  * their scale-safe join shapes (broadcast dims, semi/anti joins, no
  * cartesian product wider than the 1-row threshold broadcast).
  */
class Round6OpsSpec extends SparkSpec {

  private def executed(name: String): String =
    graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString

  test("plan: q_tpch_q2 broadcasts every dim and the per-part min; no cartesian") {
    val plan = executed("q_tpch_q2")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("plan: q_tpch_q11's only nested-loop join is the 1-row threshold broadcast") {
    val plan = executed("q_tpch_q11")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
    // the global-share threshold joins as a broadcast (1 row), never a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"expected broadcast threshold:\n$plan")
  }

  test("plan: q_tpch_q16 plans NOT IN as a broadcast anti-join") {
    val plan = executed("q_tpch_q16")
    assert(plan.contains("LeftAnti"), s"expected an anti-join for NOT IN:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast exclusion set:\n$plan")
  }

  test("plan: q_tpch_q20 keeps both nesting levels as semi-joins") {
    val plan = executed("q_tpch_q20")
    val semis = plan.split("\n").count(_.contains("LeftSemi"))
    assert(semis >= 2, s"expected two semi-join levels, got $semis:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("Caches.scoped releases its own registrations, leaves outer ones cached") {
    import spark.implicits._
    val outer = graft.Caches.scoped {
      val outer = graft.Caches.register(
        Seq(1, 2, 3).toDF("v").persist())
      outer.count()
      val inner = graft.Caches.scoped {
        val df = graft.Caches.register(Seq(4, 5).toDF("w").persist())
        df.count() // materialize inside the scope, per the contract
        df
      }
      assert(outer.storageLevel.useMemory, "outer frame was unpersisted by the scope")
      assert(!inner.storageLevel.useMemory, "scoped frame still cached after the scope")
      outer
    }
    assert(!outer.storageLevel.useMemory)
  }

  test("exactQuantilesBy leaves no cached CDF intermediates behind (self-scoped)") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 3, i.toDouble)).toDF("k", "v")
    val before = spark.sparkContext.getPersistentRDDs
    val registeredBefore = graft.Caches.registeredCount
    // repeated calls through the PUBLIC API, no caller scope around them
    val rows = (1 to 3).map { _ =>
      Clean.exactQuantilesBy(df, "v", Seq("k"), Seq(0.5)).collect()
    }
    assert(rows.forall(_.length == 3))
    assert(graft.Caches.registeredCount == registeredBefore,
      "quantile call left frames in the global registry")
    // delta-based (not global-empty) so a concurrently-running suite's own
    // persisted frames can't flake this assertion. The eager result
    // localCheckpoint IS a persisted RDD until GC'd — only NON-checkpoint
    // survivors (the CDF cache itself) count as leaks.
    val leaked = (spark.sparkContext.getPersistentRDDs.keySet -- before.keySet)
      .flatMap(spark.sparkContext.getPersistentRDDs.get)
      .filterNot(_.isCheckpointed)
    assert(leaked.isEmpty, s"prefixSumCdf intermediate leaked past the scope: $leaked")
  }

  test("Caches.scoped cleans up when the body throws") {
    import spark.implicits._
    val probe = Seq(1, 2).toDF("v").persist()
    intercept[RuntimeException] {
      graft.Caches.scoped {
        graft.Caches.register(probe)
        probe.count()
        throw new RuntimeException("boom")
      }
    }
    assert(!probe.storageLevel.useMemory,
      "scope left its frame cached after an exception")
  }

  test("Caches.scoped ignores frames registered by a concurrent thread") {
    import spark.implicits._
    val theirs = Seq(9).toDF("v").persist()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(1)
    graft.Caches.scoped {
      val t = new Thread(() => {
        graft.Caches.register(theirs) // lands mid-scope, different thread
        done.countDown()
      })
      t.start(); gate.countDown(); done.await()
      val mine = graft.Caches.register(Seq(1).toDF("w").persist())
      mine.count()
    }
    assert(theirs.storageLevel.useMemory,
      "scope unpersisted a concurrent thread's registration")
    theirs.unpersist(false) // registered outside any scope: caller-owned
  }

  test("q_tpch_q2 returns the min-cost supplier rows (nonempty, cost = per-part min)") {
    val out = graft.SparkEntry.queries("q_tpch_q2")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    // every surviving row's supplycost equals the min over rows of its part
    val byPart = out.groupBy(_.getAs[Long]("p_partkey"))
    byPart.foreach { case (_, rows) =>
      val costs = rows.map(_.getAs[Double]("supplycost")).distinct
      assert(costs.size == 1, s"multiple costs for one part: ${costs.toSeq}")
    }
  }
}
