package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

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
    */
  def pin(df: DataFrame): DataFrame = df.sparkSession.createDataFrame(df.rdd, df.schema)
}
