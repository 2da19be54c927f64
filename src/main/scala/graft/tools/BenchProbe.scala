package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnostic: reproduce bench-CONTEXT slowness that ProbeSlow's isolated
  * runs don't show. Runs a configurable prefix of queries (default: the
  * localCheckpoint-heavy dedup/graph family) in one session, reporting the
  * block-manager state before/after each, then times the probe query.
  * Usage: runMain graft.tools.BenchProbe <probeQuery> <prefixQuery>...
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val dir = "/root/testdata/sf0.1"
    val probe = args.head
    val prefix = args.tail
    def state(): String = {
      val sc = spark.sparkContext
      val rdds = sc.getPersistentRDDs
      val mem = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      f"persistentRDDs=${rdds.size}%3d storageUsed=${mem / 1024.0 / 1024.0}%8.1f MB"
    }
    def run(name: String): Unit = {
      val t0 = System.nanoTime()
      val n = graft.Caches.scoped(graft.SparkEntry.queries(name)(spark, dir).count())
      println(f"$name%-26s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n%-8d ${state()}")
    }
    prefix.foreach(run)
    run(probe)
    run(probe)
    spark.stop()
  }
}
