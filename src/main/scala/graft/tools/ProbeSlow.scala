package graft.tools

import org.apache.spark.sql.SparkSession
object ProbeSlow {
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
    graft.Metrics.enableLogging()
    spark.range(1000).selectExpr("sum(id)").collect()
    val dir = "/root/testdata/sf0.1"
    for (name <- args) {
      val t0 = System.nanoTime()
      // same timing contract as Bench: full materialization, no
      // count()-induced projection prune / sort elimination
      val n = graft.Caches.scoped {
        val qe = graft.SparkEntry.queries(name)(spark, dir).queryExecution
        val n = qe.toRdd.mapPartitions(it => Iterator.single(it.size.toLong)).sum().toLong
        graft.Metrics.logObserved(qe) // raw RDD action bypasses the listener
        n
      }
      println(f"$name%-22s ${(System.nanoTime()-t0)/1e9}%8.2f s  rows=$n")
    }
    spark.stop()
  }
}
