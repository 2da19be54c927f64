package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) keys. Sorting or
  * range-partitioning a 100-TB table by the interleaved bits of two
  * filter columns keeps rows close in BOTH dimensions inside each file,
  * so per-file min/max statistics prune scans for predicates on either
  * column — the technique behind `OPTIMIZE ZORDER BY` in lakehouse
  * engines, here as a plain codegen'd column expression usable with
  * `repartitionByRange(zorderValue(...))` + sortWithinPartitions.
  */
object Layout {

  /** Morton-interleave the low `bits` bits of two non-negative integer
    * keys: bit i of `x` lands at position 2i, bit i of `y` at 2i+1.
    * Pure integer arithmetic (exact, order-independent, replayable in
    * any SQL dialect); keys wider than `bits` wrap via modulo — callers
    * wanting rank-based interleave should pre-bucket to [0, 2^bits).
    */
  def zorderValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31]: $bits")
    val xm = pmod(x.cast("long"), lit(1L << bits))
    val ym = pmod(y.cast("long"), lit(1L << bits))
    (0 until bits).map { i =>
      shiftright(xm, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(ym, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Write `df` as a BUCKETED (and bucket-sorted) table: rows are hash-
    * partitioned into `numBuckets` files per write-partition on
    * `bucketCol`, the layout Spark's planner recognizes as a pre-built
    * hash distribution. The 100 TB payoff is [[bucketedJoin]]: two
    * tables bucketed the same way join with ZERO exchange — the shuffle
    * is paid ONCE at ingest and amortized over every subsequent join,
    * the standard warehouse co-location pattern. External table (data at
    * `path`), so the files outlive the session catalog.
    */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
      bucketCol: String, numBuckets: Int): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .option("path", path).saveAsTable(tableName)
  }

  /** Small-file compaction planning: assign each file of an inventory
    * (one row per file — metadata-scale even when the DATA is 100 TB) to
    * a rewrite bin of ≈`targetSize` summed bytes. Files are laid out
    * largest-first; every bin is a contiguous `targetSize` window of the
    * size-sorted cumulative mass, so a bin's fill deviates from target
    * by at most one straddling file in either direction (the straddler
    * it holds, or the one its predecessor held) — the next-fit-
    * decreasing bound. The whole plan is ONE range-exchange
    * prefix sum ([[graft.ext.Pack.prefixSum]]'s carry plan) — no driver
    * loop, no single-task window.
    *
    * `tieCols` must make the order total (file id/path) — determinism
    * across partitionings depends on it.
    *
    * @return the inventory plus `cum_before` and `bin` (0-based)
    */
  def compactionPlan(inventory: DataFrame, sizeCol: String,
      tieCols: Seq[String], targetSize: Long): DataFrame = {
    require(targetSize > 0, s"targetSize must be positive: $targetSize")
    graft.ext.Pack.packByBudget(inventory, sizeCol,
        col(sizeCol).desc +: tieCols.map(col(_).asc), targetSize)
      .withColumnRenamed("shard_id", "bin")
  }

  /** Small-file compaction EXECUTION (r18): rewrites each multi-file
    * bin of a graft-avro table's [[compactionPlan]]-style assignment
    * into one ≈`targetBytes` container (per partition directory, stats
    * sidecars regenerated, unbinned files byte-identical), committing
    * every bin in one all-or-nothing file-set swap. The remedy for the streaming sink's one-container-per-
    * epoch×task accumulation. Returns the number of bins rewritten.
    */
  def compact(dir: String, targetBytes: Long): Int =
    graft.sources.AvroCompact.compact(dir, targetBytes)

  /** Exchange-free equi-join of two tables written by [[writeBucketed]]
    * with the SAME bucket count on the join keys: the merge hint pins a
    * sort-merge join, and because both sides already carry the bucketed
    * hash distribution Catalyst plans NO ShuffleExchange under it (the
    * bucket files are also pre-sorted, so the SMJ sorts are per-bucket
    * streams, not global). BucketedJoinPlanSpec pins the plan shape.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, leftKey: String, rightKey: String): DataFrame =
    spark.table(leftTable).hint("merge")
      .join(spark.table(rightTable), col(leftKey) === col(rightKey))

  /** Zone-map (file-skipping) audit: how much of the table a range
    * predicate `lo <= valueCol <= hi` could PRUNE WITHOUT READING, given
    * a physical layout — the number that decides whether to re-cluster a
    * 100 TB table. `zoneCol` models the file/row-group assignment (hash
    * layout, insertion order, range cluster, [[zorderValue]] bucket —
    * whatever the writer would produce); the audit computes each zone's
    * (min, max, rows) and counts zones the predicate skips outright
    * (zmax < lo or zmin > hi — exactly the parquet min/max-statistics
    * pruning rule). Run it for the candidate layouts and compare
    * `rows_skipped`: a hash layout prunes ~nothing, a range/Z-order
    * cluster on the filter column prunes almost everything outside the
    * band.
    *
    * Scale shape: ONE map-side-combinable aggregate to |zones| rows
    * (metadata-scale), then a one-row rollup — the table is scanned once
    * and nothing zone-level ever shuffles more than (zone, min, max, n).
    * Null values are ignored (parquet stats ignore them for pruning
    * bounds; a real reader consults null counts separately).
    *
    * @return one row: (layout, zones_total, zones_pruned, rows_total,
    *         rows_skipped, skip_rate round-6)
    */
  def zoneMapAudit(df: DataFrame, zoneCol: Column, valueCol: String,
      lo: Double, hi: Double, layoutName: String): DataFrame = {
    require(lo <= hi, s"empty predicate range: [$lo, $hi]")
    val zones = df.where(col(valueCol).isNotNull)
      .select(zoneCol.as("zone"), col(valueCol).cast("double").as("__v"))
      .groupBy("zone")
      .agg(min(col("__v")).as("zmin"), max(col("__v")).as("zmax"),
        count(lit(1)).as("n"))
    val pruned = col("zmax") < lo || col("zmin") > hi
    zones.agg(
        count(lit(1)).as("zones_total"),
        sum(when(pruned, 1L).otherwise(0L)).as("zones_pruned"),
        sum(col("n")).as("rows_total"),
        sum(when(pruned, col("n")).otherwise(0L)).as("rows_skipped"))
      .select(lit(layoutName).as("layout"), col("zones_total"),
        col("zones_pruned"), col("rows_total"), col("rows_skipped"),
        round(col("rows_skipped").cast("double")
          / col("rows_total").cast("double"), 6).as("skip_rate"))
  }
}
