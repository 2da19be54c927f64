package graft.ops

import graft.SparkSpec

class PreprocessHarmonizeSpec extends SparkSpec {
  import spark.implicits._

  test("P1 z-score uses population std (ddof=0), sklearn parity on [1,2,3,4]") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val out = Preprocess.zscore(df, Seq("v")).orderBy("v")
    // mean 2.5, pop std sqrt(1.25) = 1.1180339887
    val exp = Seq(-1.3416407865, -0.4472135955, 0.4472135955, 1.3416407865)
    val got = doubles(out, "v").map(_.get)
    assert(got.zip(exp).forall { case (g, e) => approx(g, e, 1e-9) })
  }

  test("P1 zero-variance column becomes 0.0 (sklearn scale=1 substitution)") {
    val df = Seq(7.0, 7.0, 7.0).toDF("v")
    val out = Preprocess.zscore(df, Seq("v"))
    assert(doubles(out, "v") == Seq(Some(0.0), Some(0.0), Some(0.0)))
  }

  test("P2 label codes are lexicographic 0..n-1 and null encodes as 'nan'") {
    val df = Seq(Some("banana"), Some("apple"), None, Some("cherry"), Some("apple"))
      .toDF("s")
    val out = Preprocess.labelEncode(df, "s", "code")
    val codes = out.collect().map(r =>
      (Option(r.getAs[String]("s")), r.getAs[Long]("code"))).toMap
    // sorted distinct after astype(str): apple, banana, cherry, nan
    assert(codes(Some("apple")) == 0L)
    assert(codes(Some("banana")) == 1L)
    assert(codes(Some("cherry")) == 2L)
    assert(codes(None) == 3L)
  }

  test("P2 labelEncode numbers >50k distinct keys across partitions with no global window") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions._
    // keys whose lexicographic order is not their numeric order, plus
    // nulls (encoded as "nan", which sorts last)
    val df = spark.range(0, 60000, 1, 8).select(col("id"),
      when(col("id") % 997 === 0, lit(null).cast("string"))
        .otherwise(format_string("k%d", col("id") % 55000)).as("s"))
    // keep the sorted key set in all its range partitions (AQE would
    // coalesce ~1 MB of keys into one)
    val conf = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    val out = try Preprocess.labelEncode(df, "s", "code")
      finally spark.conf.set(conf, saved)
    val got = out.select("s", "code").collect()
    assert(got.length == 60000)
    val index = got.map(r => Option(r.getString(0)).getOrElse("nan")).distinct.sorted
      .zipWithIndex.toMap
    assert(index.size > 50000 && index.contains("nan"))
    got.foreach { r =>
      assert(r.getLong(1) == index(Option(r.getString(0)).getOrElse("nan")).toLong, r)
    }
    val nodes = allNodes(out.queryExecution.executedPlan)
    assert(!nodes.exists {
      case w: WindowExec => w.partitionSpec.isEmpty
      case _ => false
    }, "the code table is numbered by an unpartitioned window")
    // the code table is one checkpointed, key-sized scan spanning every
    // range partition of the sorted keys
    val tables = nodes.collect { case r: RDDScanExec if r.output.exists(_.name == "code") => r }
    assert(tables.size == 1, "no checkpointed code table in the plan")
    assert(tables.head.rdd.getNumPartitions >= 4)
  }

  test("P2 labelEncodeAll replaces string columns in place (reference semantics)") {
    val df = Seq(("x", 1.0), ("y", 2.0)).toDF("s", "v")
    val out = Preprocess.labelEncodeAll(df)
    assert(out.columns.toSeq == Seq("s", "v"))
    assert(out.schema("s").dataType == org.apache.spark.sql.types.LongType)
  }

  test("H1 standardizes names: lowercase, spaces to underscores") {
    val df = Seq((1, 2)).toDF("Some Col", "OTHER")
    assert(Harmonize.standardizeColumns(df).columns.toSeq == Seq("some_col", "other"))
  }

  test("H2 union-by-name null-fills missing columns, row count is sum of inputs") {
    val a = Seq((1, "x")).toDF("K", "only_a")
    val b = Seq((2, 9.5), (3, 8.5)).toDF("k", "only_b")
    val u = Harmonize.unionByName(Seq(a, b))
    assert(u.count() == 3)
    assert(u.columns.toSeq == Seq("k", "only_a", "only_b"))
    val rows = u.orderBy("k").collect()
    assert(rows(0).getAs[String]("only_a") == "x" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getAs[Double]("only_b") == 9.5)
  }
}
