package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver-provided corpus (TESTDATA.md).
  * One parquet file per table per scale-factor directory.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables eligible for fan-out, keyed by their natural unique key, so
    * downstream keyed operations (groupBy/join on the same key) can reuse
    * the partitioning instead of exchanging a second time.
    *
    * Only the CPU-heavy payload tables (text / vectors): for those,
    * per-row work (tokenize, shingle, hash, decode, dot products)
    * dwarfs the one narrow exchange and the measured wins are 4-14x
    * (winnow 5.6→0.9 s, scenecut 13→0.9, kmeans 5.6→1.2, langid
    * 2.8→0.7). The NUMERIC fact tables are deliberately excluded after a
    * same-session A/B at sf0.1: their scan work is cheap columnar
    * decode, so the extra full-row exchange loses ~1.2 s on every
    * exact-CDF/quantile query (which re-exchanges by range immediately:
    * spearman 2.2 vs 4.0, boxstats 1.8 vs 3.1, impute 1.8 vs 2.8, MAD
    * 2.5 vs 3.7) and wins only on a handful of projection-heavy scans
    * (coerce, minmax) — net ~12 s against, across the suite.
    */
  private val fanKeys: Map[String, String] =
    Map("documents" -> "doc_id", "embeddings" -> "vec_id")

  /** Fan a low-parallelism scan out to the session's full parallelism.
    *
    * The driver-generated fixtures are ONE parquet file with ONE row
    * group per table, so Spark's split computation yields a single input
    * partition no matter what maxPartitionBytes says — every scan-side
    * computation (tokenize/shingle/hash projections, filters, partial
    * aggregates) then runs in ONE task while 31 cores idle, and every
    * consumer of a cached single-partition table serializes on that one
    * cache build (measured: six concurrent 5.5 s single-task stages under
    * q_dedup_jaccard_prefix, all waiting on the same partition).
    *
    * The exchange is GUARDED: it fires only when the scan's estimated
    * split count is below half the cluster parallelism AND the file is
    * big enough to matter (tiny dimension tables stay single-partition —
    * 32 near-empty tasks cost more than they save, and those tables are
    * broadcast anyway). On a production cluster reading many files /
    * row groups the guard is false and load() adds nothing — which is
    * the correct 100-TB shape: input splits already provide parallelism
    * there, and an unconditional corpus-wide reshuffle would be a
    * scale-killer, not an optimization. Hash-partitioning by the
    * table's natural key (not round-robin) keeps the row→partition map
    * deterministic across reruns and task retries with no
    * sort-before-repartition pass, and lets doc_id/orderkey-keyed
    * downstream stages reuse the exchange.
    */
  private def bytesConf(spark: SparkSession, key: String, default: Long): Long =
    try org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get(key, default.toString))
    catch { case _: Throwable => default }

  private def fanOut(spark: SparkSession, dir: String, name: String,
      df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val size =
      try new java.io.File(s"$dir/$name.parquet").length()
      catch { case _: Throwable => 0L }
    // Estimate the scan's split count from file size alone — NO df.rdd
    // probe: materializing the RDD graph forces whole-stage-codegen
    // compilation of the scan stage (~0.3-0.5 s of Janino per load),
    // which a first implementation paid on EVERY query and which showed
    // up as a uniform +0.5 s tail across the bench. Spark's split math:
    // maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    // totalBytes/minPartitionNum)).
    val maxPart = bytesConf(spark, "spark.sql.files.maxPartitionBytes", 128L << 20)
    val openCost = bytesConf(spark, "spark.sql.files.openCostInBytes", 4L << 20)
    val maxSplit = math.min(maxPart,
      math.max(openCost, size / math.max(1, target)))
    val estSplits = math.max(1L, (size + maxSplit - 1) / maxSplit)
    fanKeys.get(name) match {
      case Some(key) if size >= 64 * 1024 && estSplits * 2 <= target &&
          df.schema.fieldNames.contains(key) =>
        import org.apache.spark.sql.functions.col
        df.repartition(target, col(key))
      case _ => df
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts must come out as TimestampType (UTC sessions) — the
    // engine-wide contract every consumer (watermarks REQUIRE it; NTZ is
    // rejected by EventTimeWatermark) and every oracle was built on.
    // Source files have shipped two physical spellings:
    //  - TIMESTAMP(NANOS): Spark 4 can't map it; sessions set
    //    spark.sql.legacy.parquet.nanosAsLong and the nanos long is
    //    converted here (integer DIV — a double round-trip would lose
    //    precision at 1e18 ns);
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as
    //    TIMESTAMP_NTZ; the cast interprets the wall-clock in the UTC
    //    session timezone — the same instant the generator wrote.
    val converted = if (name == "events" && df.schema.fieldNames.contains("ts")) {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    } else df
    fanOut(spark, dir, name, converted)
  }
}
