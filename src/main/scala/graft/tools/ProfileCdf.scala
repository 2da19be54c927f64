package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Throwaway stage-level profiler for the CDF/describe family (task 2 of
  * the round-9 performance list). Times each sub-stage of
  * summaryStats/summaryStatsBy in steady state (3 reps each).
  */
object ProfileCdf {
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
    val li = graft.Tables.load(spark, dir, "lineitem")

    def time(name: String)(f: => Long): Unit = {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        val n = graft.Caches.scoped(f)
        println(f"[prof] $name%-28s rep$i ${(System.nanoTime()-t0)/1e9}%7.2f s  rows=$n")
      }
    }

    import graft.ops.Clean
    val keys = Seq("l_returnflag", "l_linestatus")

    time("grp:moments") {
      li.groupBy(keys.map(col): _*).agg(
        count(col("l_extendedprice")).as("cnt"),
        avg(col("l_extendedprice")).as("mean")).count()
    }
    time("grp:valueCdf.count") {
      Clean.valueCdf(li, "l_extendedprice", keys).count()
    }
    time("grp:exactQuantilesBy") {
      Clean.exactQuantilesBy(li, "l_extendedprice", keys, Seq(0.25, 0.5, 0.75)).count()
    }
    time("grp:summaryStatsBy") {
      Clean.summaryStatsBy(li, "l_extendedprice", keys).count()
    }
    time("grp:statsBy+orderBy") {
      Clean.summaryStatsBy(li, "l_extendedprice", keys)
        .orderBy("l_returnflag", "l_linestatus").count()
    }
    time("grp:registered query") {
      graft.SparkEntry.queries("q_c6_describe_group")(spark, dir).count()
    }
    val cols4 = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    time("flat:exactQuantiles") {
      Clean.exactQuantiles(li, cols4, Seq(0.25, 0.5, 0.75)).count()
    }
    time("flat:summaryStats") {
      Clean.summaryStats(li, cols4).count()
    }
    spark.stop()
  }
}
