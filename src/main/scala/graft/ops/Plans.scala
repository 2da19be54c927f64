package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

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
    * is light next to a write of its rows (the range-partitioned frame of
    * [[rangeCarry]], Dedup's already checkpointed label jump; [[checkpoint]]
    * pins its stored frame): recomputing it per consumer costs less than
    * storing it. Checkpoint when that stage is
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

  /** Physical partition id column of a [[rangeCarry]] frame. */
  val PidCol = "__graft_pid"

  /** [[RangeCarry.groups]]' column: a group's per-partition parts, sorted
    * by partition id. */
  val PartsCol = "__graft_parts"

  /** How [[rangeCarry]] folds one per-partition value over the other
    * range partitions of its group. A group that lies in one partition
    * gets `zero` for a [[Fold.Sum]] and null for the others. */
  sealed trait Fold
  object Fold {
    /** Σ over the group's earlier partitions, in partition order. */
    final case class Sum(zero: Column) extends Fold
    /** max over the group's earlier partitions. */
    case object Max extends Fold
    /** The struct(p, v) of the nearest earlier partition where it is not
      * null, its position `p` shifted by that partition's [[Sum]] carry
      * named `at` (a row number local to its partition becomes
      * group-global). */
    final case class Last(at: String) extends Fold
    /** As [[Last]], from the nearest later partition. */
    final case class First(at: String) extends Fold
  }

  /** One carried value of [[rangeCarry]]: `part` aggregates the rows of
    * one (group, partition), `fold` carries it across the group's
    * partitions, and the result lands in column `name`. */
  final case class Carry(name: String, part: Column, fold: Fold)

  /** [[rangeCarry]]'s result. `rows`: the range-partitioned input with
    * [[PidCol]] and every carry joined on. `groups`: one row per group,
    * its keys and [[PartsCol]], the (pid, parts...) structs of all its
    * partitions (per-group totals come from here without another pass). */
  final case class RangeCarry(rows: DataFrame, groups: DataFrame)

  /** The ordered scan at scale: work inside each range partition, then a
    * bounded merge across partitions. `df` is range-partitioned on
    * (groupCols, orderCols) into `spark.sql.shuffle.partitions`
    * partitions, so each task sorts only its own slice and a global order
    * (empty `groupCols`) or one giant group never plans a single-task
    * window. Each row is tagged with its partition id ([[PidCol]]);
    * `local` then adds columns computed within a partition (Clean's row
    * number over (group, pid)), and the frame is [[pin]]ned.
    *
    * The pin is what makes the carries right. The per-partition aggregate
    * and every consumer of `rows` must see IDENTICAL pids, and a second
    * execution of the range exchange could move rows: RangePartitioner
    * samples its boundaries with a seed taken from rdd.id, so two
    * independent exchanges pick different boundaries (observed: 2-row
    * oracle mismatches at partition boundaries). Exchange reuse cannot be
    * trusted to merge them, because the consumers prune different columns
    * and their exchanges do not canonicalize equal. Over the pin, both
    * read one RDD: the range exchange runs once, with no storage write.
    * The stage above it (and `local`) is recomputed per consumer, so its
    * sort key must be a total order within (group, pid), or equal keys
    * could reorder between the two computations. (Cluster caveat: an
    * executor-loss retry of a map stage below a monotonically increasing
    * id can renumber it between the two passes.)
    *
    * Cross-partition state never touches fact-table rows. `carries` are
    * aggregated per (group, pid); each group's parts are collected and
    * sorted by pid, and only groups spanning more than one partition are
    * folded. Range partitioning keeps each group's pids contiguous, so
    * Σ(|pids| − 1) over groups ≤ the partition count: the collected lists
    * total at most ~(|groups| + partitions) entries, and a fold is
    * quadratic only in one group's pid count. Each partition's [[Fold.Sum]]
    * carries are folded first ([[Fold.Last]]/[[Fold.First]] positions
    * read them), then the rest, and the result is broadcast-joined
    * back on (group, pid), null-safely: a null group key is a group.
    */
  def rangeCarry(df: DataFrame, groupCols: Seq[String], orderCols: Seq[Column],
      carries: Seq[Carry], local: DataFrame => DataFrame = identity): RangeCarry = {
    val nPart = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val grp = groupCols.map(col)
    val rows = pin(local(df.repartitionByRange(nPart, grp ++ orderCols: _*)
      .withColumn(PidCol, spark_partition_id())))
    val aggs = carries.map(c => c.part.as(c.name))
    val groups = rows.groupBy(grp :+ col(PidCol): _*).agg(aggs.head, aggs.tail: _*)
      .groupBy(grp: _*)
      .agg(sort_array(collect_list(struct(col(PidCol) +: carries.map(c => col(c.name)): _*)))
        .as(PartsCol))

    val parts = col(PartsCol)
    // each element's Sum fields become its exclusive sums, which the
    // positioned Last/First carries below read from the element they pick
    val summed = groups.where(size(parts) > 1)
      .select(grp :+ transform(parts, (x, i) => carries.foldLeft(x) {
        case (e, Carry(n, _, Fold.Sum(zero))) =>
          e.withField(n, aggregate(slice(parts, lit(1), i), zero, (a, y) => a + y.getField(n)))
        case (e, _) => e
      }).as(PartsCol): _*)
    def pid(y: Column) = y.getField(PidCol)
    def nearest(found: Column, n: String, at: String): Column = {
      val s = found.getField(n)
      when(s.isNotNull, struct((s.getField("p") + found.getField(at)).as("p"),
        s.getField("v").as("v")))
    }
    val folded = summed.select(grp :+ explode(transform(parts, x =>
      struct(pid(x).as("__graft_opid") +: carries.map { c =>
        val before = filter(parts, y => pid(y) < pid(x))
        (c.fold match {
          case Fold.Sum(_) => x.getField(c.name)
          case Fold.Max => array_max(transform(before, _.getField(c.name)))
          case Fold.Last(at) => nearest(try_element_at(
            filter(before, _.getField(c.name).isNotNull), lit(-1)), c.name, at)
          case Fold.First(at) => nearest(try_element_at(
            filter(parts, y => pid(y) > pid(x) && y.getField(c.name).isNotNull), lit(1)),
            c.name, at)
        }).as(c.name)
      }: _*))).as("__graft_c"): _*)
      .select(groupCols.map(k => col(k).as(s"__graft_k_$k")) :+ col("__graft_c.*"): _*)

    val cond = (groupCols.map(k => col(k) <=> col(s"__graft_k_$k")) :+
      (col(PidCol) === col("__graft_opid"))).reduce(_ && _)
    val zeros = carries.collect { case Carry(n, _, Fold.Sum(zero)) => n -> coalesce(col(n), zero) }
    RangeCarry(
      rows.join(broadcast(folded), cond, "left").withColumns(zeros.toMap)
        .drop(groupCols.map("__graft_k_" + _) :+ "__graft_opid": _*),
      groups)
  }
}
