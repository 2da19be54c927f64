package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r19: reported sort order — the read-side half of the r18 clustered
  * write. Marker lifecycle across every mutation class, Sort elision
  * (merge join under SPJ; redundant-sort removal on a clustered scan),
  * and the conservative cases (pruned prefix, time travel).
  */
class AvroSortedScanSpec extends SparkSpec {

  private val conf = new org.apache.hadoop.conf.Configuration()

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft_avro_sort").toString

  private def writeClustered(dir: String, n: Long,
      overwrite: Boolean = true): Unit = {
    val src = spark.range(n).select(col("id"), (col("id") % 7).as("v"))
    src.write.format("graft-avro")
      .option("graft.schema", src.schema.json)
      .option("graft.sortby", "id").option("graft.range", "true")
      .option("graft.writepartitions", "2")
      .mode(if (overwrite) "overwrite" else "append").save(dir)
  }

  private def planOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  private def countNodes(p: org.apache.spark.sql.execution.SparkPlan,
      pred: org.apache.spark.sql.execution.SparkPlan => Boolean): Int = {
    var n = 0
    def walk(x: org.apache.spark.sql.execution.SparkPlan): Unit = {
      if (pred(x)) n += 1
      x match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case _ => x.children.foreach(walk)
      }
    }
    walk(p)
    n
  }
  private def sorts(p: org.apache.spark.sql.execution.SparkPlan): Int =
    countNodes(p, _.isInstanceOf[org.apache.spark.sql.execution.SortExec])
  private def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int =
    countNodes(p, _.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])

  // the same lifecycle over a plain table and over a versioned one:
  // every mutation class commits through the one file-set swap, which
  // must leave the marker to its callers
  for ((label, versioned) <- Seq("" -> false, " (versioned table)" -> true))
  test(s"sort marker lifecycle across the mutation classes$label") {
    val dir = tempDir()
    writeClustered(dir, 1000)
    if (versioned) AvroVersions.enable(dir, conf)
    assert(AvroSortMarker.read(dir, conf) === Seq("id"))
    // an order-matching clustered append keeps it
    writeClustered(dir, 500, overwrite = false)
    assert(AvroSortMarker.read(dir, conf) === Seq("id"))
    // a row-level COW delete preserves record order -> marker survives
    AvroSink.deleteWhere(spark, dir, col("id") === 3L)
    assert(AvroSortMarker.read(dir, conf) === Seq("id"))
    // a delete that empties a whole file (the file starting highest)
    // removes rows only -> marker survives
    val highest = AvroVersions.resolveFiles(dir, conf)
      .getOrElse(AvroDsv2.listFiles(dir, conf))
      .flatMap(f => AvroStats.read(f._1).flatMap(_.cols("id").minL)).max
    AvroSink.deleteWhere(spark, dir, col("id") >= highest)
    assert(AvroSortMarker.read(dir, conf) === Seq("id"))
    // an update to a NON-sort column preserves per-file sortedness
    AvroSink.updateWhere(spark, dir, col("id") === 5L, Map("v" -> 99L))
    assert(AvroSortMarker.read(dir, conf) === Seq("id"))
    // an update ASSIGNING the sort column moves values -> cleared
    AvroSink.updateWhere(spark, dir, col("id") === 7L, Map("id" -> 0L))
    assert(AvroSortMarker.read(dir, conf).isEmpty,
      "assigning a sort-marker column must break the ordering claim")
    writeClustered(dir, 1000) // restore for the following steps
    // an UNSORTED append breaks the invariant -> cleared
    AvroSink.write(spark.range(5)
      .select(col("id"), (col("id") % 7).as("v")), dir)
    assert(AvroSortMarker.read(dir, conf).isEmpty)
    // a clustered OVERWRITE restores it
    writeClustered(dir, 800)
    assert(AvroSortMarker.read(dir, conf) === Seq("id"))
    // compaction concatenates -> cleared
    graft.ops.Layout.compact(dir, Long.MaxValue / 4)
    assert(AvroSortMarker.read(dir, conf).isEmpty)
  }

  test("redundant per-partition sort elides on a clustered scan") {
    val dir = tempDir()
    writeClustered(dir, 2000)
    val sorted = spark.read.format("graft-avro").load(dir)
      .sortWithinPartitions("id")
    assert(sorts(planOf(sorted)) === 0,
      s"scan reports [id ASC]; the redundant sort must vanish:\n" +
        s"${sorted.queryExecution.executedPlan}")
    // conservative: prune the prefix column away -> no ordering claim,
    // the sort on the remaining column stays
    val pruned = spark.read.format("graft-avro").load(dir)
      .select("v").sortWithinPartitions("v")
    assert(sorts(planOf(pruned)) === 1,
      "a non-prefix projection must not inherit the marker's ordering")
    // an unsorted table keeps its sort
    val flat = tempDir()
    AvroSink.write(spark.range(100)
      .select(col("id"), (col("id") % 7).as("v")), flat, overwrite = true)
    val flatSorted = spark.read.format("graft-avro").load(flat)
      .sortWithinPartitions("id")
    assert(sorts(planOf(flatSorted)) === 1)
  }

  test("SPJ merge join plans with ZERO sorts and ZERO exchanges") {
    val left = tempDir(); val right = tempDir()
    val df = spark.range(300).select(col("id"),
      concat(lit("L"), (col("id") % 3).cast("string")).as("lang"))
    AvroSink.writePartitioned(df, left, Seq("lang"), overwrite = true)
    AvroSink.writePartitioned(
      df.groupBy("lang").agg(count(lit(1)).as("n")),
      right, Seq("lang"), overwrite = true)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = spark.read.format("graft-avro").option("graft.spj", "true")
        .load(left)
      val r = spark.read.format("graft-avro").option("graft.spj", "true")
        .load(right)
      val joined = l.hint("merge").join(r, Seq("lang"))
      val plan = planOf(joined)
      assert(countNodes(plan, _.isInstanceOf[
        org.apache.spark.sql.execution.joins.SortMergeJoinExec]) === 1,
        s"expected a sort-merge join:\n$plan")
      assert(exchanges(plan) === 0,
        s"SPJ must plan zero exchanges:\n$plan")
      assert(sorts(plan) === 0,
        s"the reported partition-constant ordering must elide both " +
          s"join sorts:\n$plan")
      assert(joined.count() === 300L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      prevThreshold)
  }

  test("time-travel reads never claim the marker's ordering") {
    val dir = tempDir()
    writeClustered(dir, 400)
    AvroVersions.enable(dir, conf)
    val pinned = spark.read.format("graft-avro")
      .option("graft.versionasof", "1").load(dir)
      .sortWithinPartitions("id")
    assert(sorts(planOf(pinned)) === 1,
      "a pinned read must not inherit the latest layout's marker")
  }
}
