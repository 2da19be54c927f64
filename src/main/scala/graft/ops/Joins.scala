package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join-family operators (north-star extension; the reference's only
  * multi-table op is union-by-name, SURVEY §2.7).
  *
  * Standard equi/semi/anti joins are thin, deliberate wrappers — the value
  * is the scale contract each one documents. The as-of join is the one
  * operator Spark lacks natively: implemented as union + partitioned
  * running-last window (the distributed as-of construction), NOT a range
  * cross-join — cost is one shuffle + per-partition sort, independent of
  * the time-distance between matches.
  */
object Joins {

  /** Semi-join: fact rows with a match in `filter` (no columns added). */
  def semi(left: DataFrame, right: DataFrame, on: Seq[String]): DataFrame =
    left.join(right, on, "left_semi")

  /** Anti-join: fact rows WITHOUT a match (the dedup/backfill primitive). */
  def anti(left: DataFrame, right: DataFrame, on: Seq[String]): DataFrame =
    left.join(right, on, "left_anti")

  /** As-of join: for every probe row, the most recent `ref` values with
    * ref.timeCol <= probe.timeCol within the same `keys` partition
    * (inclusive, DuckDB `ASOF JOIN` semantics).
    *
    * Construction: tag both inputs, union, then one running
    * `last(_, ignoreNulls)` window per fetched column ordered by
    * (time, isProbe) — ref rows sort before probes at equal timestamps, so
    * "at-or-before" is inclusive. Probe rows are then filtered back out.
    * ONE shuffle keyed by `keys`; scales with rows, never with time gaps.
    *
    * @param refCols ref columns to fetch, each becomes `asof_<name>`
    */
  def asof(probe: DataFrame, ref: DataFrame, keys: Seq[String],
      timeCol: String, refCols: Seq[String]): DataFrame = {
    val probeCols = probe.columns.toIndexedSeq
    val tagCol = "__graft_is_probe"
    val taggedProbe = refCols.foldLeft(probe.withColumn(tagCol, lit(1))) {
      (acc, c) => acc.withColumn(s"__graft_ref_$c", lit(null).cast(ref.schema(c).dataType))
    }
    val taggedRef = {
      // a ref row with a null timestamp can never legitimately match any
      // probe — but under nulls-first ordering it would sort ahead of the
      // whole partition and leak its values into probes that have no real
      // match. Drop such rows up front (ASOF semantics on both sides).
      val base = ref.where(col(timeCol).isNotNull).select(
        (keys.map(col) :+ col(timeCol) :+ lit(0).as(tagCol)) ++
          refCols.map(c => col(c).as(s"__graft_ref_$c")): _*)
      probeCols.filterNot(c => keys.contains(c) || c == timeCol)
        .foldLeft(base)((acc, c) => acc.withColumn(c, lit(null).cast(probe.schema(c).dataType)))
    }
    val unioned = taggedProbe.unionByName(taggedRef)
    // Tiebreaker: when several ref rows share the same (key, time), order
    // additionally by the fetched ref values so last(ignoreNulls) always
    // picks the same row regardless of partitioning/parallelism — without
    // it, run-to-run determinism (and oracle hash-matching) breaks on data
    // with duplicate ref timestamps. Probe rows are unaffected: the tag
    // column already sorts them after every equal-time ref row.
    val tieBreak = refCols.map(c => col(s"__graft_ref_$c"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(timeCol) +: col(tagCol) +: tieBreak): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = refCols.foldLeft(unioned) { (acc, c) =>
      acc.withColumn(s"asof_$c", last(col(s"__graft_ref_$c"), ignoreNulls = true).over(w))
    }
    filled.where(col(tagCol) === 1)
      .select((probeCols.map(col) ++ refCols.map(c => col(s"asof_$c"))): _*)
  }

  /** FORWARD as-of join: for every probe row, the EARLIEST ref values with
    * ref.timeCol >= probe.timeCol within the same `keys` partition — the
    * "next event at-or-after" lookup (e.g. first fill after an order).
    * Same one-shuffle union construction as [[asof]], with the window
    * ordered descending so the running `last(ignoreNulls)` sees the
    * nearest LATER ref row; at equal timestamps the ref row still
    * qualifies (inclusive), mirrored by ordering probes before refs is
    * inverted via the tag sort. @see [[asof]] for the construction notes.
    */
  def asofForward(probe: DataFrame, ref: DataFrame, keys: Seq[String],
      timeCol: String, refCols: Seq[String]): DataFrame = {
    val probeCols = probe.columns.toIndexedSeq
    val tagCol = "__graft_is_probe"
    val taggedProbe = refCols.foldLeft(probe.withColumn(tagCol, lit(1))) {
      (acc, c) => acc.withColumn(s"__graft_ref_$c", lit(null).cast(ref.schema(c).dataType))
    }
    val taggedRef = {
      // a ref row with a null timestamp can never legitimately match any
      // probe — but under nulls-first ordering it would sort ahead of the
      // whole partition and leak its values into probes that have no real
      // match. Drop such rows up front (ASOF semantics on both sides).
      val base = ref.where(col(timeCol).isNotNull).select(
        (keys.map(col) :+ col(timeCol) :+ lit(0).as(tagCol)) ++
          refCols.map(c => col(c).as(s"__graft_ref_$c")): _*)
      probeCols.filterNot(c => keys.contains(c) || c == timeCol)
        .foldLeft(base)((acc, c) => acc.withColumn(c, lit(null).cast(probe.schema(c).dataType)))
    }
    val unioned = taggedProbe.unionByName(taggedRef)
    val tieBreak = refCols.map(c => col(s"__graft_ref_$c"))
    // descending time: the running last(ignoreNulls) is the nearest ref at
    // a LATER-or-equal time; tag ASC puts equal-time refs before probes in
    // the traversal (inclusive), ref-value tiebreak keeps duplicate-ts refs
    // deterministic
    // desc_nulls_first: a probe row with a null timestamp sorts BEFORE every
    // ref row, so its running last(ignoreNulls) sees nothing and yields null
    // — matching ASOF semantics (no match on null time). Plain .desc would
    // sort it last and hand it the earliest ref row.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(timeCol).desc_nulls_first +: col(tagCol) +: tieBreak): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = refCols.foldLeft(unioned) { (acc, c) =>
      acc.withColumn(s"asof_$c", last(col(s"__graft_ref_$c"), ignoreNulls = true).over(w))
    }
    filled.where(col(tagCol) === 1)
      .select((probeCols.map(col) ++ refCols.map(c => col(s"asof_$c"))): _*)
  }

  /** As-of join with a tolerance (pandas `merge_asof(..., tolerance=...)`):
    * like [[asof]], but the matched ref row is discarded (nulled) when it
    * is older than `toleranceSeconds` before the probe time — choose-then-
    * filter semantics, exactly pandas'. Implemented by fetching the ref
    * row's own timestamp alongside `refCols` through the same one-shuffle
    * union window, then a codegen'd per-row tolerance test; no extra
    * shuffle over [[asof]].
    */
  def asofTolerance(probe: DataFrame, ref: DataFrame, keys: Seq[String],
      timeCol: String, refCols: Seq[String], toleranceSeconds: Long): DataFrame = {
    val tCol = "__graft_asof_t"
    val refT = ref.withColumn(tCol, col(timeCol))
    val joined = asof(probe, refT, keys, timeCol, refCols :+ tCol)
    val inTol = col(s"asof_$tCol") >=
      col(timeCol) - expr(s"INTERVAL $toleranceSeconds SECONDS")
    refCols.foldLeft(joined) { (acc, c) =>
      acc.withColumn(s"asof_$c", when(inTol, col(s"asof_$c")))
    }.drop(s"asof_$tCol")
  }

  /** FORWARD as-of join with a tolerance: like [[asofForward]], but the
    * matched (earliest at-or-after) ref row is nulled when it is more
    * than `toleranceSeconds` after the probe time — completing the
    * pandas `merge_asof` direction × tolerance matrix. Same choose-then-
    * filter semantics and one-shuffle construction as [[asofTolerance]].
    */
  def asofForwardTolerance(probe: DataFrame, ref: DataFrame, keys: Seq[String],
      timeCol: String, refCols: Seq[String], toleranceSeconds: Long): DataFrame = {
    val tCol = "__graft_asof_t"
    val refT = ref.withColumn(tCol, col(timeCol))
    val joined = asofForward(probe, refT, keys, timeCol, refCols :+ tCol)
    val inTol = col(s"asof_$tCol") <=
      col(timeCol) + expr(s"INTERVAL $toleranceSeconds SECONDS")
    refCols.foldLeft(joined) { (acc, c) =>
      acc.withColumn(s"asof_$c", when(inTol, col(s"asof_$c")))
    }.drop(s"asof_$tCol")
  }

  /** NEAREST as-of join (pandas `merge_asof(direction='nearest')`): for
    * every probe row, the ref row whose `timeCol` is closest in absolute
    * distance within the same `keys` partition — completing the backward /
    * forward / nearest direction matrix. Exact-distance ties go to the
    * BACKWARD (at-or-before) match; that convention is pinned here and
    * must be mirrored by any oracle. Callers should dedup `ref` to one
    * row per (keys, time) — duplicate-timestamp tie-breaking within a
    * side is otherwise engine-unspecified.
    *
    * Construction: the backward and forward passes each run the
    * one-shuffle union-window of [[asof]]/[[asofForward]], fetching the
    * matched ref timestamp alongside `refCols`; a codegen'd per-row
    * distance compare then picks the closer side. Two keyed shuffles
    * total — still never a row explosion or a time-gap-dependent cost.
    */
  def asofNearest(probe: DataFrame, ref: DataFrame, keys: Seq[String],
      timeCol: String, refCols: Seq[String]): DataFrame = {
    val tCol = "__graft_asof_t"
    val refT = ref.withColumn(tCol, col(timeCol))
    val back0 = asof(probe, refT, keys, timeCol, refCols :+ tCol)
    val back = refCols.foldLeft(
      back0.withColumnRenamed(s"asof_$tCol", "__graft_bt")) { (acc, c) =>
      acc.withColumnRenamed(s"asof_$c", s"__graft_b_$c")
    }
    val both = asofForward(back, refT, keys, timeCol, refCols :+ tCol)
    val db = unix_micros(col(timeCol)) - unix_micros(col("__graft_bt"))
    val dfw = unix_micros(col(s"asof_$tCol")) - unix_micros(col(timeCol))
    val useBack = col("__graft_bt").isNotNull &&
      (col(s"asof_$tCol").isNull || db <= dfw)
    refCols.foldLeft(both) { (acc, c) =>
      acc.withColumn(s"asof_$c",
        when(useBack, col(s"__graft_b_$c")).otherwise(col(s"asof_$c")))
    }.drop(refCols.map(c => s"__graft_b_$c") ++
      Seq("__graft_bt", s"asof_$tCol"): _*)
  }

  /** Interval (range) join via binning — the operator Spark lacks natively
    * (a naive `a.ts BETWEEN b.lo AND b.hi` join plans as broadcast-nested-
    * loop or cartesian). Both sides are assigned equi-joinable time bins of
    * `binSeconds`: point rows get their containing bin, interval rows
    * EXPLODE to every bin they overlap (ceil(len/bin)+1 rows — choose
    * binSeconds ≈ typical interval length so the blow-up is ~2×). The join
    * is then a plain shuffled equi-join on (keys, bin) — AQE/skew handling
    * apply — and the exact range predicate filters bin-collisions.
    * Duplicate (interval, point) matches from multi-bin overlap are
    * impossible: a point lives in exactly ONE bin.
    *
    * @param intervals frame with [loCol, hiCol) timestamp bounds
    * @param points    frame with a `tsCol` timestamp
    * @param keys      additional equi-join keys (e.g. user_id) — strongly
    *                  recommended: they bound bucket sizes at scale
    */
  def rangeJoinBinned(intervals: DataFrame, loCol: String, hiCol: String,
      points: DataFrame, tsCol: String, keys: Seq[String],
      binSeconds: Long): DataFrame = {
    val binUs = binSeconds * 1000000L
    val iv = intervals.withColumn("__bin",
      explode(sequence(floor(unix_micros(col(loCol)) / binUs).cast("long"),
        floor(unix_micros(col(hiCol)) / binUs).cast("long"))))
    val pt = points.withColumn("__bin",
      floor(unix_micros(col(tsCol)) / binUs).cast("long"))
    iv.join(pt, keys :+ "__bin")
      .where(col(tsCol) >= col(loCol) && col(tsCol) < col(hiCol))
      .drop("__bin")
  }

  /** Interval OVERLAP join — BOTH sides are intervals and a pair matches
    * when [lLo, lHi) ∩ [rLo, rHi) ≠ ∅ (i.e. lLo < rHi AND rLo < lHi).
    * The naive predicate join plans as broadcast-nested-loop/cartesian;
    * here both sides explode to the `binSeconds` grid cells they span
    * and the join is a plain shuffled equi-join on (keys, cell).
    *
    * A pair overlapping several shared cells would duplicate under the
    * grid join; instead of a distinct over the matched payload, each
    * pair is kept in exactly ONE canonical cell — the cell containing
    * the overlap's START, max(lLo, rLo), which both sides' cell ranges
    * provably contain. Dedup is a filter, not an exchange.
    *
    * Pick binSeconds ≈ the typical interval length (cells per row stay
    * ~2); `keys` bound cell populations at scale. Caller supplies
    * distinct bound column names on the two sides.
    */
  def intervalOverlapJoin(left: DataFrame, lLo: String, lHi: String,
      right: DataFrame, rLo: String, rHi: String, keys: Seq[String],
      binSeconds: Long): DataFrame = {
    require(binSeconds > 0, s"binSeconds must be positive: $binSeconds")
    val binUs = binSeconds * 1000000L
    // An inverted interval (hi < lo) is empty and overlaps nothing — but
    // Spark's sequence(start, stop) silently steps -1 when start > stop,
    // which would generate a DESCENDING bin list and join malformed rows
    // on bogus cells. Drop such rows before exploding the grid.
    def binned(df: DataFrame, lo: String, hi: String) = df
      .where(col(lo) <= col(hi))
      .withColumn("__bin",
        explode(sequence(floor(unix_micros(col(lo)) / binUs).cast("long"),
          floor(unix_micros(col(hi)) / binUs).cast("long"))))
    binned(left, lLo, lHi).join(binned(right, rLo, rHi), keys :+ "__bin")
      .where(col(lLo) < col(rHi) && col(rLo) < col(lHi) &&
        col("__bin") === floor(unix_micros(greatest(col(lLo), col(rLo)))
          / binUs).cast("long"))
      .drop("__bin")
  }

  /** Bloom-filter join pruning: build a Bloom filter over the build side's
    * join key, broadcast it, and pre-filter the probe side BEFORE its
    * shuffle — probe rows with no possible match never leave their scan
    * task. At 100 TB this is the difference between shuffling the full
    * fact table and shuffling only the ~matching fraction when the build
    * side is selective but too large to broadcast-join outright (a Bloom
    * filter is ~1.2 bytes/key at 1% fpp, so 100M build keys ≈ 120 MB —
    * broadcastable when the rows themselves are not).
    *
    * False positives only pass the filter and are removed by the join
    * itself, so the result is IDENTICAL to the plain join — which is
    * exactly how the oracle checks it. Supports long/int and string keys
    * (the two `BloomFilter.put` families).
    *
    * Join types are restricted to those where dropping non-matching probe
    * rows is semantics-preserving (inner / left_semi / cross): an outer or
    * anti join must KEEP unmatched probe rows, so pre-filtering them would
    * silently change the result.
    */
  def bloomPrunedJoin(probe: DataFrame, build: DataFrame, on: Seq[String],
      expectedItems: Long = 1000000L, fpp: Double = 0.01,
      joinType: String = "inner"): DataFrame = {
    require(on.size == 1, "bloom pruning keys one column; compose for more")
    val prunable = Set("inner", "leftsemi", "semi", "cross")
    require(prunable.contains(joinType.toLowerCase.replace("_", "")),
      s"bloom pruning drops unmatched probe rows; joinType '$joinType' must keep " +
        "them — use inner/left_semi/cross, or a plain join for outer/anti types")
    val key = on.head
    val bf = build.stat.bloomFilter(key, expectedItems, fpp)
    val bc = probe.sparkSession.sparkContext.broadcast(bf)
    import org.apache.spark.sql.types._
    val keep = probe.schema(key).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        udf((k: java.lang.Long) => k != null && bc.value.mightContainLong(k))
          .apply(col(key).cast(LongType))
      case StringType =>
        udf((k: String) => k != null && bc.value.mightContainString(k)).apply(col(key))
      case dt => throw new IllegalArgumentException(s"unsupported bloom key type $dt")
    }
    probe.where(keep).join(build, on, joinType)
  }

  /** Top-k rows per group by `orderBy` (window rank family — the reference
    * exposes no window surface; this is the extension's canonical use).
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[String],
      orderBy: Seq[Column], k: Int, rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(rankCol, row_number().over(w)).where(col(rankCol) <= k)
  }

  /** Aggregate-based top-k per group — the scale tier of [[topKPerGroup]]:
    * a bounded-buffer UDAF hash aggregate (map-side combinable, shuffles
    * k-sized buffers per group, never sorts the data) instead of a
    * partition-wide window sort. Output: one row per kept entry with
    * 1-based rank by (value desc, id asc).
    */
  def topKPerGroupAgg(df: DataFrame, groupCols: Seq[String],
      valueCol: String, idCol: String, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(k))
    // the aggregator's buffer encoder is primitive (Double, Long) tuples —
    // a null value/id would fail at runtime, and the window formulation
    // this mirrors skips null sort keys anyway
    df.where(col(valueCol).isNotNull && col(idCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(topk(col(valueCol).cast("double"), col(idCol).cast("long")).as("top"))
      .select(groupCols.map(col) :+ posexplode(col("top")).as(Seq("rank0", "entry")): _*)
      .select(groupCols.map(col) ++ Seq(
        (col("rank0") + 1).cast("int").as("rn"),
        col("entry._1").as(valueCol), col("entry._2").as(idCol)): _*)
  }

  /** AGMS ("tug-of-war") sketch of a join column: `sketches` signed
    * counters s_i = Σ_rows ξ_i(key) with ξ_i(k) ∈ {−1, +1} bit i of
    * md5(key) — deterministic, engine-portable, no RNG. ONE md5 per row
    * (not per (row, i) — the r13 explode formulation cost 64 md5s/row),
    * split into two 60-bit halves whose low 32 bits each supply signs,
    * then `sketches` plain SUM aggregates in a single codegen'd scan:
    * map-side combinable, mergeable across shards/batches (add the
    * counters), one exchange of ≤ `sketches` longs. The 1×`sketches`
    * aggregate row is unpivoted to (i, s) rows after the scan.
    * Alon–Gibbons–Matias–Szegedy 1999 / Alon–Matias–Szegedy 1996.
    */
  def joinSizeSketch(df: DataFrame, keyCol: String,
      sketches: Int = 64): DataFrame = {
    require(sketches > 0 && sketches % 8 == 0 && sketches <= 64,
      s"sketches must be a positive multiple of 8, at most 64: $sketches")
    val hashed = df.select(
      conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10)
        .cast("long").as("__h1"),
      conv(substring(md5(col(keyCol).cast("string")), 17, 15), 16, 10)
        .cast("long").as("__h2"))
    // sign_i = 1 − 2·bit_i; sketches 0..31 read __h1, 32..63 read __h2
    val sums = (0 until sketches).map { i =>
      val h = if (i < 32) col("__h1") else col("__h2")
      sum(lit(1L) - lit(2L) * shiftright(h, i % 32).bitwiseAND(lit(1L)))
        .as(s"__s$i")
    }
    val onerow = hashed.agg(sums.head, sums.tail: _*)
    val stackArgs = (0 until sketches)
      .map(i => s"${i}L, coalesce(__s$i, 0L)").mkString(", ")
    onerow.select(expr(s"stack($sketches, $stackArgs) AS (i, s)"))
  }

  /** Join-SIZE estimation without the join — the planner's primitive at
    * 100 TB (broadcast vs shuffle vs skew handling all hinge on |A⋈B|):
    * E[s_i^A · s_i^B] = Σ_k cA(k)·cB(k) = |A ⋈_k B|, sharpened by
    * median-of-means over 8 groups of `sketches`/8 products. Inputs are
    * scanned once each into `sketches` longs; the estimator then runs on
    * 2×`sketches` rows. Exact join size rides along (per-key count join
    * — the audit's sized cost) so the error is measured, not trusted.
    *
    * Determinism: products and group sums are exact integer arithmetic;
    * the median of 8 group means is the average of the 4th/5th sorted
    * values — one shared double DAG, replayed verbatim by the oracle.
    */
  def joinSizeEstimate(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, sketches: Int = 64): DataFrame = {
    val sa = joinSizeSketch(left, leftKey, sketches)
      .withColumnRenamed("s", "sa")
    val sb = joinSizeSketch(right, rightKey, sketches)
      .withColumnRenamed("s", "sb")
    val grpMeans = sa.join(sb, Seq("i"))
      .groupBy(expr(s"i div ${sketches / 8}L").as("g"))
      .agg((sum(col("sa") * col("sb")).cast("double") /
        lit((sketches / 8).toDouble)).as("m"))
    val est = grpMeans
      .agg(sort_array(collect_list("m")).as("__l"))
      .select(((element_at(col("__l"), 4) + element_at(col("__l"), 5)) / 2.0)
        .as("est_join_size"))
    val exact = left.groupBy(col(leftKey).as("__k"))
      .agg(count(lit(1)).as("__ca"))
      .join(right.groupBy(col(rightKey).as("__k"))
        .agg(count(lit(1)).as("__cb")), Seq("__k"))
      .agg(coalesce(sum(col("__ca") * col("__cb")), lit(0L))
        .as("exact_join_size"))
    est.crossJoin(exact)
      .select(lit(sketches).as("sketches"),
        round(col("est_join_size"), 6).as("est_join_size"),
        col("exact_join_size"),
        round(abs(col("est_join_size") - col("exact_join_size")) /
          col("exact_join_size"), 6).as("rel_error"))
  }
}
