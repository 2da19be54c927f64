package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget packing and budget-capped curation selection — the
  * sharding step of a training-data pipeline: lay a totally-ordered
  * corpus out into fixed-token-budget shards (sequence packing at the
  * shard level), or keep the best-ranked documents per group until a
  * token budget is exhausted.
  *
  * Both ride on a distributed EXCLUSIVE running sum (`prefixSum`) that
  * never plans a single-task window over raw rows: rows are
  * range-partitioned on (partitionCols, orderCols), each physical
  * partition computes its local running sum, and only the per-partition
  * totals of groups that STRADDLE a partition boundary are folded into
  * offsets — `graft.ops.Plans.rangeCarry`, the carry kernel under the
  * fills and the exact CDF, so the plan survives both the
  * empty-partitionCols global ordering AND a skewed group at 100 TB.
  *
  * Reference behavior: the reference app has no sharding step (its
  * pandas frames are single-machine); this is north-star extension
  * surface sized for the 100-TB curation path.
  */
object Pack {

  /** Adds `outCol` = exclusive running sum of `weightCol` (null-as-0)
    * over rows ordered by `orderCols` within each `partitionCols` group
    * (empty `partitionCols` = one global order). `weightCol` must be
    * integral; the sum is carried as LongType: a local running sum per
    * range partition plus the Σ of the group's earlier partitions
    * (`graft.ops.Plans.rangeCarry`).
    *
    * `orderCols` must be a total order (add a unique tie-break key): the
    * local window above the kernel's pin is recomputed per consumer, and
    * equal keys could otherwise reorder between the two computations (as
    * well as land on either side of a range boundary, making the result
    * order-dependent).
    */
  def prefixSum(df: DataFrame, weightCol: String, orderCols: Seq[Column],
      partitionCols: Seq[String], outCol: String = "cum_before"): DataFrame = {
    import graft.ops.Plans
    val w = coalesce(col(weightCol), lit(0L)).cast("long")
    val ranged = Plans.rangeCarry(df, partitionCols, orderCols,
      Seq(Plans.Carry("__graft_off", sum(w), Plans.Fold.Sum(lit(0L))))).rows
    val wLoc = Window.partitionBy((partitionCols :+ Plans.PidCol).map(col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged.withColumn(outCol, coalesce(sum(w).over(wLoc), lit(0L)) + col("__graft_off"))
      .drop(Plans.PidCol, "__graft_off")
  }

  /** Shard assignment by token budget: documents laid out in `orderCols`
    * order are cut into shards of ≤ `budget` summed weight (a document
    * whose weight straddles a boundary belongs to the shard its FIRST
    * token falls in: `shard_id = cum_before div budget`). Deterministic,
    * shuffle count = the one range exchange of [[prefixSum]].
    */
  def packByBudget(df: DataFrame, weightCol: String, orderCols: Seq[Column],
      budget: Long, partitionCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    prefixSum(df, weightCol, orderCols, partitionCols)
      .withColumn("shard_id", expr(s"cum_before div ${budget}L"))
  }

  /** GPT-style sequence packing ("concat and chunk"): lay the corpus's
    * token stream out end-to-end in `orderCols` order and cut it into
    * fixed-length training sequences of exactly `seqLen` tokens, with
    * documents SPANNING sequence boundaries — the standard LLM
    * pretraining layout (no padding waste; cf. the GPT-2/3 data preps).
    * Zero-weight rows contribute nothing and are dropped.
    *
    * Output: one row per (sequence, document) contribution — all input
    * columns plus `cum_before` (the doc's global token offset), `seq_idx`
    * (0-based sequence id), `tok_start` (0-based slice offset WITHIN the
    * document) and `tok_len` — exactly what a shard writer needs to
    * gather each sequence's token slices (`groupBy(seq_idx)`, slices
    * concatenated in `cum_before` order; the final sequence may be short).
    *
    * Scale shape: one range exchange (the [[prefixSum]] carry plan), then
    * a scan-local explode of width ceil(w/seqLen)+1 per document — no
    * further shuffle; a downstream writer's groupBy(seq_idx) shuffles
    * slice METADATA (or slice tokens), never whole documents more than
    * once.
    */
  def packSequences(df: DataFrame, weightCol: String, orderCols: Seq[Column],
      seqLen: Long, partitionCols: Seq[String] = Nil): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val w = coalesce(col(weightCol).cast("long"), lit(0L))
    prefixSum(df, weightCol, orderCols, partitionCols)
      .where(w > 0)
      .withColumn("__end", col("cum_before") + w) // exclusive global end
      // sequences the doc touches: floor(off/L) .. floor((end-1)/L) —
      // integer `div`, never double division (precision at 1e15+ tokens)
      .withColumn("seq_idx", explode(sequence(
        expr(s"cum_before div ${seqLen}L"),
        expr(s"(__end - 1) div ${seqLen}L"))))
      .withColumn("tok_start",
        greatest(col("seq_idx") * seqLen - col("cum_before"), lit(0L)))
      .withColumn("tok_len",
        least(col("__end"), (col("seq_idx") + 1) * seqLen) -
          greatest(col("cum_before"), col("seq_idx") * seqLen))
      .drop("__end")
  }

  /** Materialize the sequences [[packSequences]] laid out: join the slice
    * rows back to each document's token array and assemble one token
    * array per sequence, pieces concatenated in stream (`cum_before`)
    * order. `slices` must be a [[packSequences]] output carrying
    * (`seq_idx`, idCol, `tok_start`, `tok_len`, `cum_before`); `docs`
    * provides (idCol, tokensCol).
    *
    * Scale shape: the join ships each document's tokens to its slice
    * rows once, and the groupBy(seq_idx) shuffle carries PIECES — at most
    * `seqLen` tokens per sequence by construction, so the per-group
    * collect_list is bounded by the training sequence length, never by
    * document or corpus size. No other shuffle.
    */
  def gatherSequences(slices: DataFrame, docs: DataFrame, idCol: String,
      tokensCol: String): DataFrame = {
    val piece = slice(col("__tk"),
      (col("tok_start") + 1).cast("int"), col("tok_len").cast("int"))
    slices
      .join(docs.select(col(idCol), col(tokensCol).as("__tk")), Seq(idCol))
      .select(col("seq_idx"),
        struct(col("cum_before"), piece.as("piece")).as("__p"))
      .groupBy("seq_idx")
      .agg(flatten(transform(array_sort(collect_list(col("__p"))),
        p => p.getField("piece"))).as("tokens"))
  }

  /** Budget-capped curation: rank rows by `orderCols` (best first) within
    * each group and keep rows while the EXCLUSIVE running weight stays
    * under `budget` — so the selection always includes the top-ranked row
    * and stops at the first row whose predecessors already filled the
    * budget. The classic "take the highest-quality documents up to N
    * tokens per language" curation step.
    */
  def selectByBudget(df: DataFrame, weightCol: String, orderCols: Seq[Column],
      budget: Long, partitionCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    prefixSum(df, weightCol, orderCols, partitionCols)
      .where(col("cum_before") < budget)
  }

  /** Proportional-share curation: split `totalBudget` across the
    * `partitionCols` groups IN PROPORTION to each group's total weight
    * (`budget_g = floor(totalBudget · w_g / Σw)`, exact integer
    * arithmetic — group weight × budget fits DECIMAL(38), divided last),
    * then keep each group's best-ranked rows while the exclusive running
    * weight stays under its allocation. The downsample-preserving-mix
    * curation step: shrink a corpus to N tokens without changing its
    * language/source composition.
    *
    * Scale shape: the group-total aggregate is map-side combined and
    * group-cardinality-sized; its null-safe broadcast join back rides
    * the same range exchange [[prefixSum]] already planned — two corpus
    * passes total (one aggregate, one ranged cumsum), no new shuffle of
    * fact rows.
    */
  def selectProportional(df: DataFrame, weightCol: String,
      orderCols: Seq[Column], totalBudget: Long,
      partitionCols: Seq[String]): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    require(partitionCols.nonEmpty,
      "selectProportional needs grouping columns; use selectByBudget for a global cap")
    val w = coalesce(col(weightCol), lit(0L)).cast("long")
    val totals = df.groupBy(partitionCols.map(col): _*)
      .agg(sum(w).as("__gw"))
    val grand = totals.agg(sum(col("__gw"))).head().getLong(0)
    require(grand > 0, "total weight must be positive")
    // exact integer floor-division: DECIMAL multiply then DIV (integral
    // divide, no intermediate rounding) — a decimal `/` would round to a
    // fixed scale BEFORE floor and can disagree with exact arithmetic by
    // one unit on boundary quotients
    val budgets = totals.select(
      partitionCols.map(k => col(k).as(s"__graft_pb_$k")) :+
        expr(s"CAST(CAST(__gw AS DECIMAL(38,0)) * ${totalBudget}L DIV " +
          s"${grand}L AS BIGINT)").as("__graft_budget"): _*)
    val cond = partitionCols.map(k => col(k) <=> col(s"__graft_pb_$k"))
      .reduce(_ && _)
    prefixSum(df, weightCol, orderCols, partitionCols)
      .join(broadcast(budgets), cond, "left")
      .where(col("cum_before") < col("__graft_budget"))
      .drop(partitionCols.map("__graft_pb_" + _) :+ "__graft_budget": _*)
  }
}
