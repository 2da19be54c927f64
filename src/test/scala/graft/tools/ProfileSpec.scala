package graft.tools

import graft.SparkSpec
import org.apache.spark.ListenerBusProbe

class ProfileSpec extends SparkSpec {

  test("a query listed twice profiles twice in the shared session") {
    val sc = spark.sparkContext
    val before = ListenerBusProbe.listeners(sc).size
    val reports = Profile.run(spark, "/root/testdata/sf0.001", Seq("q_tpch_q6", "q_tpch_q6"))
    assert(reports.map(_.name) == Seq("q_tpch_q6", "q_tpch_q6"))
    reports.foreach { r =>
      assert(r.failure.isEmpty, r.failure)
      assert(r.jobs >= 1, r)
      assert(r.stages >= r.jobs, r)
      assert(r.tasks >= r.stages, r)
      assert(r.topJobs.nonEmpty && r.topStages.nonEmpty, r)
    }
    assert(reports.map(_.rows).distinct.size == 1 && reports.head.rows >= 1L)
    // every compile takes some time; the warm rerun hits the codegen cache
    reports.foreach { r =>
      assert(r.compiledClasses >= 0L && r.compileMs >= 0.0, r)
      assert((r.compiledClasses == 0L) == (r.compileMs == 0.0), r)
    }
    val Seq(cold, warm) = reports
    assert(warm.compiledClasses <= cold.compiledClasses, reports)
    // the listener is gone and the session still runs
    assert(ListenerBusProbe.listeners(sc).size == before)
    assert(!sc.isStopped)
    assert(spark.range(5).count() == 5L)
  }

  test("an unknown query is a failed run, not an exception") {
    val Seq(r) = Profile.run(spark, "/root/testdata/sf0.001", Seq("q_no_such_query"))
    assert(r.failure.nonEmpty && r.rows == -1L)
  }
}
