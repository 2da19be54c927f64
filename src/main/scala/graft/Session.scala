package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one local session and its one timing step.
  *
  * Every main (Bench, Verify, the tools) and the test harness build their
  * session here, so the config is decided once: graft's native functions,
  * UTC, the nanos-as-long read of `events.parquet`, storage-partitioned
  * joins, as many shuffle partitions as cores, and a codegen cache sized
  * for the registered queries.
  */
object Session {

  /** Cores for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cpus]` session with `cpus` shuffle partitions and the UI off. */
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // storage-partitioned joins (r17): let a scan-reported
      // KeyGroupedPartitioning eliminate the join shuffle; inert unless
      // a scan opts into reporting (graft-avro: .option("graft.spj"))
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // Spark's codegen cache keeps 100 compiled classes by default and
      // thrashes: one pass over every registered query at sf0.001
      // compiles 5,840 distinct classes, and at 100 entries the warm pass
      // recompiled 9,564 (at 6000, 267; graft.tools.Profile counts them).
      // A static conf: it takes effect in the session that first compiles
      // code in the JVM.
      .config("spark.sql.codegen.cache.maxEntries", "6000")
      .getOrCreate()

  /** Evaluate every output row of `df`'s exact physical plan, in one job,
    * and return the row count. Not `count()`: under count() the final
    * projection is column-pruned and a top-level sort is eliminated, so a
    * projection-shaped query would time a pruned scan. Nothing is
    * collected to the driver. `toRdd` is a raw RDD action, which bypasses
    * the QueryExecutionListener, so the observed `graft_*` counts are
    * logged here.
    */
  def materialize(df: DataFrame): Long = {
    val qe = df.queryExecution
    val rows = qe.sparkSession.sparkContext.longAccumulator
    qe.toRdd.foreach(_ => rows.add(1L))
    Metrics.logObserved(qe)
    rows.sum
  }
}
