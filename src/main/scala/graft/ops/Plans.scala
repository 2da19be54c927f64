package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD

/** Plan-shaping helpers shared across operators. */
object Plans {

  /** Filter-pushdown barrier for predicates over EXPENSIVE per-row
    * computations (tokenize/shingle/hash projections).
    *
    * Catalyst pushes any deterministic filter below projections and
    * exchanges, inlining the alias definitions into the predicate. For a
    * guard like `size(tokens(text)) >= k` that is a double loss: the
    * tokenize expression is evaluated TWICE (once inside the pushed
    * filter, once in the projection that still sits above), and the
    * pushed copy lands in the SCAN stage — which on single-row-group
    * inputs (the local fixtures; any small file at production scale) is
    * one task, serializing the whole corpus's interpreted HOF work on one
    * core while the fan-out exchange above it sits unused (measured:
    * 3.8 s single-task scan stage under q_dedup_jaccard_prefix vs ~0.3 s
    * for the same work spread post-exchange).
    *
    * Wrapping the predicate in [[graft.functions.PlanBarrier]] (an
    * identity expression that reads as nondeterministic) keeps the filter
    * exactly where it is written — above the projection that computes its
    * inputs, after any fan-out exchange — at zero runtime cost. Result
    * determinism is unaffected: the filter's VALUE equals `pred` on every
    * row, on every retry.
    */
  def noPushdown(pred: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_barrier", pred)

  /** RDD-level pin: a frame over the one RDD instance `df` executes to
    * (`createDataFrame(df.rdd, df.schema)`). Consumers are planned over a
    * `LogicalRDD` leaf and all read that RDD, so `df`'s exchanges run once,
    * as shuffle stages the consumers share; only the stage above its last
    * exchange is recomputed per consumer. Nothing is persisted.
    *
    * Pin where consumers must agree on values a second execution could
    * change (partition ids behind a range exchange, whose boundaries
    * RangePartitioner samples with a seed taken from rdd.id), or where
    * several consumers would each plan, compile and run the same subplan.
    * Exchange reuse cannot be trusted for either: consumers that prune
    * different columns plan exchanges that do not canonicalize equal. The
    * pin also drops the origin plan's constraints.
    *
    * Building the pin plans `df` and, under AQE, runs its shuffle map
    * stages. The `LogicalRDD` declares no output partitioning, so an
    * operator over the pin that needs a distribution plans its own
    * exchange.
    *
    * Pin or [[checkpoint]]? Pin when the stage above `df`'s last exchange
    * is light next to a write of its rows (Clean's numbered carry input,
    * the prefix-sum CDF kernel, Eda's Pareto frontier, Pack's prefix
    * sum, Dedup's already checkpointed label jump): recomputing it per
    * consumer costs less than storing it. Checkpoint when that stage is
    * heavy and every consumer re-runs it, or when `df` has no exchange and
    * each consumer would re-read its sources.
    */
  def pin(df: DataFrame): DataFrame = df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Eager local checkpoint, released with the enclosing scope: `df` runs
    * once, now, and its rows are stored as Spark blocks (memory, spilling
    * to disk), one block per partition of `df`'s RDD. The returned frame
    * reads those blocks, so every consumer sees exactly `df`'s partitions
    * and row order (a float aggregate over it sums in the same order as
    * over a [[pin]]), and nothing below is planned or run again.
    *
    * Storage is `df`'s full row count: use it for a frame whose heavy
    * last stage several consumers would each recompute (the fill windows
    * under zscore's statistics and projection), or whose source parse
    * several passes would each repeat. Where the recomputed stage is
    * light, a [[pin]] costs less than the write.
    *
    * The checkpointed RDD is registered with [[graft.Caches]], so the
    * innermost `Caches.scoped` block unpersists it on exit; the returned
    * frame must not be read after that. Like [[pin]], the frame is a
    * `LogicalRDD` without origin constraints or partitioning:
    * `Dataset.localCheckpoint` alone keeps the constraints, and an
    * aliased self-join over it can crash constraint rewriting.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
    cp.queryExecution.analyzed.foreach {
      case r: LogicalRDD => graft.Caches.register(r.rdd)
      case _ =>
    }
    pin(cp)
  }
}
