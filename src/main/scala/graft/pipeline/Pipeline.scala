package graft.pipeline

import graft.ops.{Clean, Harmonize, Plans, Preprocess}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's composed end-to-end pipeline (SURVEY §3 EP1):
  * harmonize -> process (clean) -> preprocess, in the exact statement order
  * of `Data_integration and harmonization.py:160-202`.
  *
  * The pandas positional row index is replaced with an explicit ordering
  * column supplied by the caller (`orderCol`); order-sensitive fills run
  * within optional `partitionCols` so the sort distributes at scale.
  */
object Pipeline {

  /** `process_data` (DIH.py:26-33): coerce strings to numeric, scrub ±inf,
    * interpolate, forward-fill, drop all-null columns.
    *
    * The coerced input is materialized once, eagerly, with
    * [[graft.ops.Plans.checkpoint]] (storage: `df`'s rows, in `df`'s
    * partitions; released when the enclosing `Caches.scoped` block exits).
    * Three passes read it: the all-null probe, the fill's range-boundary
    * sample and the range exchange's map stage. Unmaterialized, each of
    * them parsed the sources and ran `try_cast` and the ±inf scrub again.
    *
    * The output is sorted within its partitions by (`partitionCols`,
    * `orderCol`). The fill windows leave each (group, range partition)
    * block in descending order, and the range boundaries move between
    * runs (RangePartitioner seeds its sample with rdd.id), so the row
    * order, and with it the last bits of a float aggregate such as
    * zscore's statistics, changed from run to run in one JVM. Sorted, an
    * output of one partition (AQE coalesces small fills into one) has
    * one order.
    */
  def process(df: DataFrame, orderCol: String,
      partitionCols: Seq[String] = Nil): DataFrame = {
    val coerced = Plans.checkpoint(Clean.scrubInf(Clean.coerceNumeric(df)))
    // C5 runs BEFORE the fills (reference statement order is C3,C4,C5):
    // interpolation/ffill only propagate existing values, so a column is
    // all-null after filling iff it was all-null before — the output is
    // identical, but the fill windows are never evaluated over columns
    // that are about to be dropped (with string-heavy inputs those are
    // most of the coerced columns).
    val pruned = Clean.dropAllNullCols(coerced)
    val fillable = pruned.schema.fields.collect {
      case f if (f.dataType == DoubleType || f.dataType == FloatType) && f.name != orderCol =>
        f.name
    }.toIndexedSeq
    // The reference's statement order is interpolate THEN ffill — but
    // ffill over the same (cols, orderCol, partitionCols) is provably the
    // IDENTITY on interpolate's output: `limit_direction='both'` fills
    // every null in a (group, column) slice that has at least one
    // non-null value (interior rows interpolate between non-null
    // neighbours; leading rows take the first valid value, trailing the
    // last — each branch yields non-null whenever the slice has one),
    // and a slice with NO non-null value stays all-null, where ffill's
    // last(ignoreNulls) and cross-partition carry are also null. So
    // ffill(interpolate(df)) == interpolate(df) pointwise, and running
    // it only re-paid the whole ordered-carry machinery (range exchange,
    // boundary aggregate, broadcast carry join, per-column windows) to
    // rewrite every value with itself. PipelineSpec pins the equality;
    // the composed q_pipeline oracle (which models the reference's
    // statement order) stays hash-green. Direct Clean.ffill callers are
    // unaffected.
    Clean.interpolate(pruned, fillable, orderCol, partitionCols)
      .sortWithinPartitions((partitionCols :+ orderCol).map(col): _*)
  }

  /** `preprocess_data` (DIH.py:36-52): z-score numeric columns, label-encode
    * the remaining string columns. NOTE the reference's fidelity trap
    * (SURVEY §2.3): in the composed pipeline no string columns survive
    * `process`, so label encoding is a no-op there — but it remains part of
    * the public surface for direct calls.
    */
  def preprocess(df: DataFrame, excludeCols: Set[String] = Set.empty): DataFrame = {
    val nums = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] && !excludeCols(f.name) => f.name
    }.toIndexedSeq
    val scaled = if (nums.isEmpty) df else Preprocess.zscore(df, nums)
    Preprocess.labelEncodeAll(scaled)
  }

  /** The reference's complete main() flow (`DIH.py:160-202`): ingest a
    * heterogeneous set of files (format dispatched per extension, exactly
    * like the upload loop at DIH.py:172-179), then run the composed
    * pipeline. Empty inputs are rejected up front (S5, DIH.py:181-182).
    */
  def ingest(spark: org.apache.spark.sql.SparkSession, paths: Seq[String],
      orderKey: DataFrame => org.apache.spark.sql.Column): DataFrame = {
    val dfs = paths.map { p =>
      val df = graft.sources.Sources.readAny(spark, p)
      require(!graft.sources.Sources.isEmpty(df), s"Empty input: $p")
      df
    }
    run(dfs, orderKey)
  }

  /** Full EP1 flow over already-loaded frames.
    *
    * Scale design: the order-sensitive fills (C3/C4) run PER SOURCE FRAME —
    * each input is tagged with its ordinal (`__graft_src`) and the fill
    * windows partition on it, so no global single-task sort ever happens;
    * each source's window sort distributes across its own partitions. The
    * per-source ordering key is `orderKey(df)` — a real data column
    * expression the caller supplies (e.g. a primary key or timestamp).
    * `monotonically_increasing_id` is deliberately NOT used: it is not
    * stable across retries/re-partitioning, which would break deterministic
    * verification.
    *
    * Plan shape: `process`'s output is materialized once, eagerly, with
    * [[graft.ops.Plans.checkpoint]] before `preprocess`. zscore reads its
    * input twice, once for the mean/std aggregate and once for the scaled
    * projection; over an RDD pin each read re-ran the fill windows above
    * the pin's last shuffle. Over the checkpoint the fills (range
    * exchange, carries, windows) run once, and every query over the
    * returned frame starts at a `LogicalRDD` leaf. Storage is one copy of
    * the processed fact rows, in the partitions and the order `process`
    * produced, so the statistics aggregate sums in the same order as the
    * unmaterialized composition; together with `process`'s checkpoint of
    * the coerced input, a `run` holds two fact-sized copies until the
    * enclosing `Caches.scoped` block exits and releases them. The
    * returned frame must be consumed inside that block. PipelineSpec
    * checks the output equals `preprocess(process(...))` bit for bit.
    */
  def run(dfs: Seq[DataFrame], orderKey: DataFrame => org.apache.spark.sql.Column): DataFrame = {
    val processed = Plans.checkpoint(process(unionSources(dfs, orderKey), OrdCol,
      partitionCols = Seq(SrcCol)))
    preprocess(processed, excludeCols = Set(SrcCol, OrdCol))
  }

  private[pipeline] val SrcCol = "__graft_src"
  private[pipeline] val OrdCol = "__graft_ord"

  /** [[run]]'s input stage: standardize each source's column names, tag
    * its rows with the source ordinal (`__graft_src`) and ordering key
    * (`__graft_ord`), and union the sources by name.
    */
  private[pipeline] def unionSources(dfs: Seq[DataFrame],
      orderKey: DataFrame => org.apache.spark.sql.Column): DataFrame = {
    val tagged = dfs.zipWithIndex.map { case (df, i) =>
      val std = Harmonize.standardizeColumns(df)
      std.withColumn(SrcCol, lit(i)).withColumn(OrdCol, orderKey(std))
    }
    // A column that is text in one source and numeric in another stays
    // object dtype through the reference's pd.concat, and process_data's
    // to_numeric(errors='coerce') then nulls its junk tokens element-wise.
    // Spark's union would instead cast the text side strictly to double,
    // which throws under ANSI — so coerce that text side per source first.
    val numericSomewhere = tagged.flatMap(_.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }).toSet - SrcCol - OrdCol
    Harmonize.unionByName(tagged.map { df =>
      val mixed = df.schema.fields.collect {
        case f if f.dataType == StringType && numericSomewhere(f.name) => f.name
      }.toSeq
      if (mixed.isEmpty) df else Clean.coerceNumeric(df, mixed)
    })
  }
}
