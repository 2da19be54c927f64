package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

/** `AvroScan` value equality: two reads of one table with the same
  * columns and filters plan equal scans, so Spark's exchange reuse runs
  * the scan once; any difference in the rows a scan returns keeps the
  * scans apart.
  */
class AvroScanReuseSpec extends SparkSpec {
  import spark.implicits._

  private def table(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_avro_reuse").toString
    AvroSink.write(spark.range(400).select((col("id") % 37).as("k"),
        col("id").as("v")).repartition(4, col("k")), dir, overwrite = true)
    dir
  }

  private def read(dir: String): DataFrame = spark.read.format("graft-avro").load(dir)

  /** Executed plan nodes through AQE stages, not below a reused exchange:
    * what actually ran.
    */
  private def ran(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children
    }
    p +: kids.flatMap(ran)
  }

  private def scanOf(d: DataFrame): AvroScan =
    ran(d.queryExecution.executedPlan).collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[AvroScan]
    }.get

  /** The per-key sums of two separate reads of a table, as one union:
    * each side plans a hash exchange on `k` over its own scan.
    */
  private def twoSums(a: DataFrame, b: DataFrame): DataFrame = {
    def sums(d: DataFrame) = d.groupBy("k").agg(sum("v").as("s"))
    sums(a).unionByName(sums(b))
  }

  test("two reads with the same columns and filters run one scan under a reused exchange") {
    val dir = table()
    def side = read(dir).where(col("v") >= 100).select("k", "v")
    val q = twoSums(side, side)
    val rows = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val plan = q.queryExecution.executedPlan
    val nodes = ran(plan)
    assert(nodes.count(_.isInstanceOf[ReusedExchangeExec]) === 1, plan.toString)
    val scans = nodes.collect { case b: BatchScanExec => b.scan.asInstanceOf[AvroScan] }
    assert(scans.size === 1, plan.toString)
    // the scan that ran is the one a lastPlanned audit reads: 4 files
    // listed, the zone maps keep those that may hold v >= 100
    assert(scans.head.lastPlanned._2 === 4 && scans.head.lastPlanned._1 > 0,
      scans.head.lastPlanned.toString)
    val want = (100L until 400L).groupBy(_ % 37).map { case (k, vs) => (k, vs.sum) }
      .toSeq.flatMap(Seq.fill(2)(_)).sorted
    assert(rows === want)
  }

  test("equal reads plan equal scans with equal hash codes") {
    val dir = table()
    val a = scanOf(read(dir).where(col("v") >= 100).select("k"))
    val b = scanOf(read(dir).where(col("v") >= 100).select("k"))
    assert(a ne b)
    assert(a === b && a.hashCode === b.hashCode)
  }

  test("different pushed filters, different columns or an added file keep scans apart") {
    val dir = table()
    val base = scanOf(read(dir).where(col("v") >= 100).select("k", "v"))
    assert(scanOf(read(dir).where(col("v") >= 101).select("k", "v")) !== base)
    assert(scanOf(read(dir).select("k", "v")) !== base)
    assert(scanOf(read(dir).where(col("v") >= 100).select("v")) !== base)
    // a file added between two reads: the second read lists it
    val before = read(dir).where(col("v") >= 100).select("k", "v")
    AvroSink.write(Seq((1L, 1000L)).toDF("k", "v"), dir)
    val after = read(dir).where(col("v") >= 100).select("k", "v")
    assert(scanOf(after) !== scanOf(before))
    // and a plan over the two reads reuses nothing
    val q = twoSums(before, after)
    assert(q.collect().length === 2 * 37)
    val plan = q.queryExecution.executedPlan
    assert(!ran(plan).exists(_.isInstanceOf[ReusedExchangeExec]), plan.toString)
    assert(ran(plan).count(_.isInstanceOf[BatchScanExec]) === 2, plan.toString)
  }
}
