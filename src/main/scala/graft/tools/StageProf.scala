package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Dev utility: per-STAGE wall times for registered queries — JobCount
  * locates slow JOBS, this locates the slow stage inside them (name =
  * the stage's callsite, which names the operator that created it).
  * Usage: runMain graft.tools.StageProf <q1> [q2...]
  */
object StageProf {
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
    val stages = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Double, Int, String)]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val dur = (for (a <- i.completionTime; b <- i.submissionTime)
          yield (a - b) / 1e3).getOrElse(-1.0)
        // rdd scope names identify the physical operators in the stage
        // (stage name itself is just the action callsite)
        val ops = i.rddInfos.map(_.name).distinct.mkString(">")
        stages.add((dur, i.numTasks, ops.replaceAll("\\s+", " ").take(140)))
      }
    })
    for (name <- args) {
      stages.clear()
      val t0 = System.nanoTime()
      graft.Caches.scoped(graft.SparkEntry.queries(name)(spark,
        "/root/testdata/sf0.1").queryExecution.toRdd.foreach(_ => ()))
      println(f"[stageprof] $name ${(System.nanoTime() - t0) / 1e9}%.2f s total")
      import scala.jdk.CollectionConverters._
      stages.asScala.sortBy(-_._1).take(12).foreach { case (d, n, nm) =>
        println(f"[stageprof]   $d%7.2f s  tasks=$n%-4d $nm")
      }
    }
    spark.stop()
  }
}
