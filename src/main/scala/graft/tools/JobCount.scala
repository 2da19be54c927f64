package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
object JobCount {
  val log = java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, String)]())
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
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val times = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    spark.sparkContext.addSparkListener(new SparkListener {
      // java.lang.Long, not scala Long: remove() must return null (not
      // unbox) for jobs with no recorded start
      var start = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
      val descs = java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, String)]())
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); start.put(j.jobId, System.nanoTime())
        val d = Option(j.properties.getProperty("spark.job.description")).getOrElse("?")
        start2.put(j.jobId, d.take(60).replaceAll("\\s+", " "))
      }
      var start2 = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        // null-safe: a job in flight when the listener registered has no
        // recorded start; skip it instead of NPE-unboxing the null Long
        val s = start.remove(j.jobId)
        val d = start2.remove(j.jobId)
        if (s != null) {
          val dur = System.nanoTime() - s.longValue
          times.add(dur)
          JobCount.log.add((dur, if (d == null) "?" else d))
        }
      }
    })
    for (name <- args) {
      jobs.set(0); times.clear(); log.clear()
      val t0 = System.nanoTime()
      graft.Caches.scoped(graft.SparkEntry.queries(name)(spark,
        "/root/testdata/sf0.1").queryExecution.toRdd.foreach(_ => ()))
      val tot = (System.nanoTime() - t0) / 1e9
      import scala.jdk.CollectionConverters._
      println(f"[jobcount] $name%-22s $tot%7.2f s  jobs=${jobs.get()}")
      log.asScala.sortBy(-_._1).take(15).foreach { case (t, d) =>
        println(f"[jobcount]   ${t / 1e9}%6.2f s  $d") }
    }
    spark.stop()
  }
}
