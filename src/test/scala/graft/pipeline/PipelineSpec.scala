package graft.pipeline

import graft.SparkSpec
import graft.ext.TextAnalysis
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("ingest: mixed csv + parquet inputs flow through the full pipeline") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    graft.Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$tmp/customer.csv")
    graft.Tables.load(spark, "/root/testdata/sf0.001", "supplier")
      .write.mode("overwrite").parquet(s"$tmp/supplier.parquet")
    val out = Pipeline.ingest(spark,
      Seq(s"$tmp/customer.csv", s"$tmp/supplier.parquet"),
      df => col(df.columns.head))
    assert(out.count() == 160) // 150 customers + 10 suppliers at sf0.001
    // string columns coerced->all-null->dropped; survivors are z-scored numerics + tags
    assert(!out.columns.contains("c_name") && !out.columns.contains("s_name"))
  }

  test("run: a column that is text with junk in one source and numeric in another coerces junk to null") {
    // pd.concat + to_numeric(errors='coerce'): the junk token becomes null,
    // element-wise — the same output as feeding that source pre-coerced
    val mixed = Seq((1L, "1.5"), (2L, "junk"), (3L, "3")).toDF("id", "amt")
    val coerced = Seq[(Long, Option[Double])]((1L, Some(1.5)), (2L, None),
      (3L, Some(3.0))).toDF("id", "amt")
    val numeric = Seq[(Long, Option[Double])]((4L, Some(2.0)), (5L, None),
      (6L, Some(4.0))).toDF("id", "amt")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      def rows(dfs: Seq[org.apache.spark.sql.DataFrame]): Seq[String] =
        Pipeline.run(dfs, _ => col("id")).orderBy("__graft_src", "__graft_ord")
          .collect().map(_.toString).toSeq
      val got = rows(Seq(mixed, numeric))
      assert(got.size == 6)
      assert(got === rows(Seq(coerced, numeric)))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  /** Three drifted sources (column-name case, a text column with a junk
    * token in one source and numeric in another, nulls, ±inf, a column
    * only one source has), 1,200 rows: enough for the fills to span
    * every shuffle partition.
    */
  private def driftedSources(): Seq[org.apache.spark.sql.DataFrame] = {
    def amt(i: Int): Option[Double] =
      if (i % 7 == 0) None
      else if (i % 53 == 0) Some(Double.PositiveInfinity)
      else if (i % 59 == 0) Some(Double.NegativeInfinity)
      else Some((i * 37 % 101) / 4.0)
    val s0 = (0 until 400).map { i =>
      (i.toLong, amt(i), if (i % 11 == 0) "junk" else if (i % 5 == 0) null else s"${i % 13}.5")
    }.toDF("ID", "Amount", "qty")
    val s1 = (400 until 800).map { i =>
      (i.toLong, amt(i), if (i % 3 == 0) None else Some((i % 17).toDouble))
    }.toDF("id", "amount", "qty")
    val s2 = (800 until 1200).map { i =>
      (i.toLong, amt(i + 1), if (i % 9 == 0) None else Some(i % 29 * 0.25))
    }.toDF("id", "amount", "rate")
    Seq(s0, s1, s2)
  }

  private def exactRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy(Pipeline.SrcCol, Pipeline.OrdCol).collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d) // exact bits
      case v => v
    })

  test("run pins the processed frame: output equals the unpinned composition bit for bit") {
    val dfs = driftedSources()
    val pinned = Pipeline.run(dfs, _ => col("id"))
    val unpinned = Pipeline.preprocess(
      Pipeline.process(Pipeline.unionSources(dfs, _ => col("id")), Pipeline.OrdCol,
        partitionCols = Seq(Pipeline.SrcCol)),
      excludeCols = Set(Pipeline.SrcCol, Pipeline.OrdCol))
    assert(pinned.schema === unpinned.schema)
    val got = exactRows(pinned)
    assert(got.size == 1200)
    assert(got === exactRows(unpinned))
    // the junk token and ±inf become nulls that the fills then fill; a
    // column stays null only in the sources that lack it
    Seq("id" -> Nil, "amount" -> Nil, "qty" -> Seq(2), "rate" -> Seq(0, 1)).foreach {
      case (c, lacking) =>
        val bad = pinned.where(col(c).isNull || isnan(col(c)) ||
            col(c).isin(Double.PositiveInfinity, Double.NegativeInfinity))
          .select(Pipeline.SrcCol).distinct().collect().map(_.getInt(0)).sorted.toSeq
        assert(bad == lacking, c)
    }
  }

  test("run plans the fills once: its output's plan holds no window and no range exchange") {
    // the fills (range exchange, carries, windows) run below the RDD pin;
    // zscore's statistics aggregate and its scaled projection both read
    // the pin, so neither re-plans them
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val out = Pipeline.run(driftedSources(), _ => col("id"))
    out.collect()
    val nodes = allNodes(out.queryExecution.executedPlan)
    assert(nodes.exists(_.nodeName == "Scan ExistingRDD"), "no RDD pin in the plan")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "a fill window is planned above the pin")
    assert(!nodes.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, "a range exchange is planned above the pin")
  }

  /** Per completed stage: the RDD scope (operator) names of its RDDs, the
    * names of its RDDs and the shuffle records its tasks read.
    */
  private final class StageLog extends org.apache.spark.scheduler.SparkListener {
    val stages = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Seq[String], Long)]
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages += ((i.rddInfos.flatMap(_.scope.map(_.name)).toSeq, i.rddInfos.map(_.name).toSeq,
        Option(i.taskMetrics).fold(0L)(_.shuffleReadMetrics.recordsRead)))
    }
  }

  /** [[driftedSources]] written to parquet and read back, so each source
    * pass is a file scan.
    */
  private def parquetSources(): Seq[org.apache.spark.sql.DataFrame] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_run_sources").toString
    driftedSources().zipWithIndex.map { case (df, i) =>
      df.write.parquet(s"$dir/s$i.parquet")
      spark.read.parquet(s"$dir/s$i.parquet")
    }
  }

  test("run scans each source once and runs the fill windows in one stage") {
    val sc = spark.sparkContext
    val dfs = parquetSources()
    val log = new StageLog
    sc.addSparkListener(log)
    // collect runs zscore's statistics aggregate and its scaled projection
    try assert(Pipeline.run(dfs, _ => col("id")).collect().length == 1200)
    finally {
      org.apache.spark.GraftListenerBus.drain(sc)
      sc.removeSparkListener(log)
    }
    val stages = log.synchronized(log.stages.toList)
    val scans = stages.map(_._2.count(_ == "FileScanRDD")).sum
    assert(scans == dfs.size, s"sources scanned $scans times, want ${dfs.size}:\n" +
      stages.mkString("\n"))
    // the fill stage: the interpolation's ascending and descending windows
    // over every fact row, read from the exchange on (source, pid)
    val fills = stages.count { case (scopes, _, shuffled) =>
      scopes.count(_ == "Window") == 2 && shuffled == 1200
    }
    assert(fills == 1, s"fill windows ran in $fills stages:\n" + stages.mkString("\n"))
  }

  test("run releases its materialized stages when the scope exits") {
    val sc = spark.sparkContext
    val dfs = driftedSources()
    val persisted = sc.getPersistentRDDs.keySet
    def rddIds = org.apache.spark.BlockProbe.rddBlocks(sc).collect {
      case b: org.apache.spark.storage.RDDBlockId => b.rddId
    }.toSet
    val blocks = rddIds
    def added = sc.getPersistentRDDs.keySet -- persisted
    val n = graft.Caches.scoped {
      val out = Pipeline.run(dfs, _ => col("id"))
      assert(added.size >= 2) // the coerced input and the processed frame
      out.count()
    }
    assert(n == 1200L)
    assert(added.isEmpty, added)
    // block removal is asynchronous
    val deadline = System.nanoTime() + 30e9.toLong
    while ((rddIds -- blocks).nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert((rddIds -- blocks).isEmpty, "RDD blocks left after the scope exited")
  }

  test("an aliased self-join over run's output plans and runs") {
    val out = Pipeline.run(driftedSources(), _ => col("id"))
    // the materialized leaves carry no origin constraints to rewrite
    val leaves = out.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }
    assert(leaves.nonEmpty && leaves.forall(_.constraints.isEmpty), leaves.map(_.constraints))
    val next = out.select(col(Pipeline.SrcCol), (col(Pipeline.OrdCol) - 1).as("prev"),
      col("amount").as("next_amount"))
    val joined = out.as("a").join(next.as("b"),
      col(s"a.${Pipeline.SrcCol}") === col(s"b.${Pipeline.SrcCol}") &&
        col(s"a.${Pipeline.OrdCol}") === col("b.prev"))
    // each source of 400 rows has 399 (row, next row) pairs
    assert(joined.count() == 3 * 399L)
  }

  test("run gives the same bits on every run in one session") {
    // 3,000 rows in one input partition: RangePartitioner samples them
    // with a seed that changes from run to run, so the range boundaries
    // (and the fill's block order) move; zscore's sums must not
    val src = (0 until 3000).map { i =>
      (i.toLong, if (i % 7 == 0) None else Some(math.sin(i) * 100.0))
    }.toDF("id", "amount").coalesce(1)
    val runs = (0 until 3).map(_ => exactRows(Pipeline.run(Seq(src), _ => col("id"))))
    assert(runs.head.size == 3000)
    assert(runs.distinct.size == 1)
  }

  test("ingest rejects empty inputs with an explicit error") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_empty").toString
    Seq.empty[(Long, String)].toDF("id", "s").write.mode("overwrite").parquet(s"$tmp/empty.parquet")
    intercept[IllegalArgumentException] {
      Pipeline.ingest(spark, Seq(s"$tmp/empty.parquet"), df => lit(1))
    }
  }

  test("ffill after both-direction interpolate is the identity (r20 pass elision proof)") {
    // the property Pipeline.process relies on to skip its ffill pass:
    // interpolate(limit_direction='both') leaves a null ONLY where the
    // whole (group, column) slice is null — exactly where ffill is also
    // powerless. Includes an all-null slice (group "b", column y), edge
    // nulls, interior runs, and a group confined to one partition.
    val df = Seq[(String, Long, Option[Double], Option[Double])](
      ("a", 1L, None, Some(1.0)), ("a", 2L, Some(2.0), None),
      ("a", 3L, None, Some(3.0)), ("a", 4L, None, None),
      ("a", 5L, Some(10.0), Some(7.0)),
      ("b", 1L, Some(4.0), None), ("b", 2L, None, None),
      ("b", 3L, Some(6.0), None),
      ("c", 1L, None, Some(9.0))
    ).toDF("g", "ord", "x", "y")
    val interp = graft.ops.Clean.interpolate(df, Seq("x", "y"), "ord", Seq("g"))
    val refilled = graft.ops.Clean.ffill(interp, Seq("x", "y"), "ord", Seq("g"))
    val key = (r: org.apache.spark.sql.Row) => r.toString
    assert(refilled.orderBy("g", "ord").collect().map(key).toSeq
      === interp.orderBy("g", "ord").collect().map(key).toSeq)
    // and the surviving nulls are exactly the all-null slices:
    // (b, y) and (c, x); every other (group, column) slice is fully filled
    val nullCells = interp.select(col("g"), col("ord"),
        col("x").isNull.as("xn"), col("y").isNull.as("yn"))
      .collect()
      .flatMap(r => Seq("x" -> r.getBoolean(2), "y" -> r.getBoolean(3))
        .collect { case (c, true) => (r.getString(0), c) })
      .toSet
    assert(nullCells === Set(("b", "y"), ("c", "x")))
  }

  test("qualityFilter keeps good docs and drops repetitive/short ones") {
    val docs = Seq(
      (1L, "a solid document with plenty of distinct informative tokens spread across the text body"),
      (2L, "short"),
      (3L, ("spam " * 40).trim)).toDF("doc_id", "text")
    val kept = TextAnalysis.qualityFilter(docs, "text", minTokens = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L)) // 2 too short, 3 fails distinct-token ratio
  }
}
