package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import graft.functions.round6

/** Row types for the custom-state sessionization (top level so the
  * case-class Encoders derive). `ts` stays a Timestamp through the typed
  * boundary — converting it to a long BEFORE the stateful op would strip
  * the watermark metadata from the attribute and fail the streaming
  * analyzer's event-time-timeout check.
  */
case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
case class OpenSession(start_us: Long, last_us: Long, n: Long, sum: Double)
case class SessionRow(user_id: Long, session_start: Long, n_events: Long, sum_value: Double)

/** Row/state types for the stateful running-anomaly detector. State is
  * EXACT fixed-point: value is a 2-decimal fixture, so cents (×100) and
  * squared cents (×10⁴) accumulate as plain longs — batch, stream, and
  * the SQL window replay all see identical integers whatever the
  * micro-batch or partition layout.
  */
case class AnomEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
  value: Double)
case class RunStats(n: Long, s2: Long, ss4: Long)
case class AnomRow(user_id: Long, event_id: Long, value: Double, z: Double)

/** Structured-Streaming flavor of the events analytics (north-star
  * extension; the reference is strictly batch, SURVEY §2.7).
  *
  * The transform is defined ONCE over a DataFrame and reused by both the
  * batch query (oracle-checkable) and the streaming query (same plan +
  * watermark) — the Structured Streaming contract that batch and stream
  * share semantics.
  */
object EventsStream {

  /** Tumbling event-time window aggregate per event_type: count and mean
    * value per (window, type). Output keys are epoch seconds so the result
    * is engine-portable (no timestamp precision/zone hashing hazards).
    */
  def windowedStats(events: DataFrame, windowLen: String): DataFrame =
    events.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(avg(col("value")), 6).as("avg_value"))
      .select(
        unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n_events"), col("avg_value"))

  /** Batch entry (used by the registered query + DuckDB oracle). */
  def batch(spark: SparkSession, dir: String, windowLen: String = "1 day"): DataFrame =
    windowedStats(graft.Tables.load(spark, dir, "events"), windowLen)
      .orderBy("window_start", "event_type")

  /** Streaming entry: file-source stream over the same parquet directory,
    * 10-minute watermark for late data. Default sink mode is Update so the
    * watermark actually evicts closed-window state (in Complete mode state
    * grows with the number of windows forever); callers that need the full
    * re-emitted table each trigger (e.g. tests snapshotting a memory sink)
    * can pass Complete explicitly. The caller picks the sink (tests use a
    * memory sink; production writes a Delta/parquet append per window
    * close).
    */
  def stream(spark: SparkSession, dir: String, schema: StructType,
      windowLen: String = "1 day",
      mode: OutputMode = OutputMode.Update()): DataStreamWriter[org.apache.spark.sql.Row] = {
    val src = spark.readStream.schema(schema).parquet(dir)
    windowedStats(src.withWatermark("ts", "10 minutes"), windowLen)
      .writeStream.outputMode(mode)
  }

  /** Sessionization-style stateful demo shape: per-user event counts over
    * event-time windows — kept as plain windowed agg (mapGroupsWithState
    * is unnecessary here; SURVEY §7 prefers built-ins when they express the
    * semantics).
    */
  def perUserDaily(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("day_start"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Exact distinct users per tumbling window — the streaming-safe
    * COUNT(DISTINCT) surrogate: a distinct aggregation is not allowed in
    * streaming, but `dropDuplicates` on (window-start, user) followed by
    * a plain count is, and batch gets the identical two-stage plan (the
    * dedup is a map-side-combinable aggregate — no user ever counted
    * twice, no giant distinct-set buffers). The window-start column
    * carries the event-time watermark tag through `window()`, so
    * streaming dedup state expires with the watermark instead of growing
    * forever. Null users are excluded (COUNT DISTINCT semantics).
    */
  def windowedDistinctUsers(events: DataFrame, windowLen: String): DataFrame =
    events.where(col("user_id").isNotNull)
      .select(window(col("ts"), windowLen).getField("start").as("wstart"),
        col("user_id"))
      .dropDuplicates("wstart", "user_id")
      .groupBy("wstart")
      .agg(count(lit(1)).as("n_users"))
      .select(unix_timestamp(col("wstart")).as("window_start"), col("n_users"))

  /** Gap-based sessionization per user via the built-in `session_window`
    * (events closer than `gap` merge into one session) — the canonical
    * stateful-streaming shape, expressed with the built-in so batch and
    * stream share one definition (SURVEY §7: built-ins before custom
    * state). Output keys are epoch seconds; session start is the first
    * event's timestamp.
    */
  def sessionStats(events: DataFrame, gap: String): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        col("n_events"), col("sum_value"))

  /** Gap sessionization via flatMapGroupsWithState — the CUSTOM-state tier
    * below [[sessionStats]] (which should stay the default: built-in
    * `session_window` already expresses plain gap sessions). This variant
    * exists for session logic the built-in cannot express (e.g. emitting
    * per-session custom payloads, capping session length, side outputs)
    * and demonstrates the mapGroupsWithState contract.
    *
    * Batch semantics: each user's events arrive as one group; sort by
    * time, split on `gapMinutes`, emit every session (identical output to
    * [[sessionStats]] — property-tested). Streaming semantics: the open
    * session lives in GroupState with an event-time timeout at
    * last_ts + gap; closed sessions emit on the trigger that closes them,
    * the open one emits when the watermark passes its timeout — state per
    * key is ONE OpenSession, so memory is bounded by active users, not by
    * history.
    */
  def sessionStatsStateful(events: DataFrame, gapMinutes: Int): Dataset[SessionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val isStreaming = events.isStreaming
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts"),
      col("value").cast("double").as("value")).as[SessEvent]

    def micros(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }

    def close(uid: Long, s: OpenSession): SessionRow =
      SessionRow(uid, s.start_us / 1000000L, s.n, round6(s.sum))

    val fn = (uid: Long, it: Iterator[SessEvent], state: GroupState[OpenSession]) => {
      if (state.hasTimedOut) {
        val out = close(uid, state.get)
        state.remove()
        Iterator.single(out)
      } else {
        val evs = it.map(e => (micros(e.ts), e.value)).toArray.sorted
        var open = state.getOption
        val closed = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
        evs.foreach { case (us, v) =>
          open match {
            case Some(s) if us - s.last_us < gapUs =>
              open = Some(OpenSession(s.start_us, us, s.n + 1, s.sum + v))
            case Some(s) =>
              closed += close(uid, s)
              open = Some(OpenSession(us, us, 1L, v))
            case None =>
              open = Some(OpenSession(us, us, 1L, v))
          }
        }
        if (isStreaming) {
          open.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp((s.last_us + gapUs) / 1000L) // ms
          }
        } else {
          open.foreach(s => closed += close(uid, s)) // batch: no later trigger
        }
        closed.iterator
      }
    }
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Running per-user anomaly detection (batch tier): each event is
    * z-scored against the statistics of that user's STRICTLY PRIOR
    * events (ordered by ts, event_id) and flagged when
    * |v − μ_prior| > kSigma·σ_prior with at least `minPrior` history —
    * the "is this action out of character for THIS entity" audit, the
    * per-key twin of the global `q_events_anomaly`.
    *
    * Determinism: prefix sums run over exact CENTS (value is a
    * 2-decimal fixture — ×100 and ×10⁴ squared-cents are exact longs),
    * so partition layout cannot perturb them; mean/σ/z are one shared
    * double DAG. The window is keyed per user — no global sort, the
    * per-key frame is the bounded per-entity history.
    *
    * @return flagged rows (user_id, event_id, value, z round-6)
    */
  def runningAnomaly(events: DataFrame, minPrior: Int = 10,
      kSigma: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v2 = round(col("value") * 100).cast("long")
    val pw = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val mean = col("__s2").cast("double") / col("__n") / lit(100.0)
    val std = sqrt(greatest(
      col("__ss4").cast("double") / col("__n") / lit(10000.0) - mean * mean,
      lit(0.0)))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        v2.as("__v2"))
      .withColumn("__n", count(lit(1)).over(pw))
      .withColumn("__s2", sum("__v2").over(pw))
      .withColumn("__ss4", sum(col("__v2") * col("__v2")).over(pw))
      .where(col("__n") >= minPrior)
      .where(std > 0 && abs(col("value") - mean) > lit(kSigma) * std)
      .select(col("user_id"), col("event_id"), col("value"),
        round((col("value") - mean) / std, 6).as("z"))
  }

  /** Streaming tier of [[runningAnomaly]] via flatMapGroupsWithState:
    * per-user RunStats (n, Σcents, Σcents²) carried across micro-batches
    * — state per key is THREE longs, bounded by active users, never by
    * history length. Each arriving event is scored against the state
    * BEFORE being folded in (the strictly-prior contract), using the
    * same exact-integer state + double DAG as the batch window, so
    * batch ≡ stream whatever the micro-batch boundaries (as long as a
    * user's events arrive in event order — the replay contract of the
    * file source; late data would need a watermarked reorder buffer in
    * front).
    */
  def runningAnomalyStateful(events: DataFrame, minPrior: Int = 10,
      kSigma: Double = 3.0): Dataset[AnomRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(col("user_id").cast("long").as("user_id"),
      col("ts"), col("event_id").cast("long").as("event_id"),
      col("value").cast("double").as("value")).as[AnomEvent]
    def micros(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val fn = (uid: Long, it: Iterator[AnomEvent], state: GroupState[RunStats]) => {
      val evs = it.map(e => (micros(e.ts), e.event_id, e.value)).toArray.sorted
      var st = state.getOption.getOrElse(RunStats(0L, 0L, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[AnomRow]
      evs.foreach { case (_, eid, v) =>
        if (st.n >= minPrior) {
          val mean = st.s2.toDouble / st.n / 100.0
          val std = math.sqrt(math.max(
            st.ss4.toDouble / st.n / 10000.0 - mean * mean, 0.0))
          if (std > 0 && math.abs(v - mean) > kSigma * std)
            out += AnomRow(uid, eid, v, round6((v - mean) / std))
        }
        val v2 = math.round(v * 100)
        st = RunStats(st.n + 1, st.s2 + v2, st.ss4 + v2 * v2)
      }
      state.update(st)
      out.iterator
    }
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
  }

  /** Ordered funnel analysis: for each stage i, users whose FIRST stage-i
    * event at-or-after their qualifying stage-(i-1) time exists. Output one
    * row per stage: (stage, name, n_users), monotonically non-increasing.
    *
    * Scale shape: each stage is one filtered groupBy(user) min-aggregate
    * (map-side combinable) joined to the previous stage's (small,
    * one-row-per-qualifying-user) table — the chain never shuffles raw
    * events more than once per stage, and stage tables only shrink.
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(stages.nonEmpty, "funnel needs at least one stage")
    val ev = events.select(col(userCol).as("u"), col(typeCol).as("t"), col(tsCol).as("ts"))
    // localCheckpoint severs each stage's lineage (same pattern as
    // clusterNearDups/pageRank): without it the per-stage count() re-runs
    // every prior stage's aggregation — O(stages²) scans of the event table.
    var prev = ev.where(col("t") === stages.head)
      .groupBy("u").agg(min(col("ts")).as("q_ts"))
      .localCheckpoint()
    val counts = scala.collection.mutable.ArrayBuffer(
      (1, stages.head, prev.count()))
    stages.zipWithIndex.drop(1).foreach { case (st, i) =>
      prev = ev.where(col("t") === st)
        .join(prev.select(col("u"), col("q_ts").as("prev_ts")), "u")
        .where(col("ts") >= col("prev_ts"))
        .groupBy("u").agg(min(col("ts")).as("q_ts"))
        .localCheckpoint()
      counts += ((i + 1, st, prev.count()))
    }
    counts.toSeq.toDF("stage", "name", "n_users")
  }

  /** Stream-stream inner join: purchases matched to same-user clicks at
    * most `windowMinutes` earlier. Works unchanged on batch frames (plain
    * range-predicate join) and on streams, where BOTH sides must carry a
    * watermark and the time-range condition lets Spark bound the join
    * state: click state older than the watermark minus the window is
    * evicted, so memory is (rate × window), not history. This is the
    * streaming tier of the batch `Joins.rangeJoinBinned` query.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("c_ts"))
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").as("p_ts"), col("value"))
    c.join(p, col("c_user") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") < col("c_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("click_id"), col("c_user").as("user_id"),
        col("value").as("purchase_value"))
  }

  /** Per-user event-type transition matrix (first-order Markov counts):
    * (prev_type -> type) occurrence counts plus each transition's share
    * of its source state's outgoing edges. One partitioned window (lag
    * per user — the sessionize shuffle shape) + one count aggregate;
    * row totals re-aggregated from the transition cells (state-space
    * sized) and broadcast back, so shares cost no second pass over the
    * events.
    */
  /** NOTE: with duplicate (user, ts) pairs the lag order — and therefore
    * the transition counts — is only deterministic if `tieBreakCols`
    * makes the per-user sort total. The parameter is deliberately
    * REQUIRED (no default): pass the event id whenever timestamps can
    * tie, or `Nil` explicitly to assert that (user, ts) is unique.
    */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieBreakCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol)
      .orderBy((col(tsCol) +: tieBreakCols.map(col)).map(_.asc): _*)
    val trans = events
      .withColumn("prev_type", lag(col(typeCol), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n"))
    val rowTotals = trans.groupBy("prev_type").agg(sum("n").as("row_total"))
    trans.join(broadcast(rowTotals), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / col("row_total").cast("double"), 6)
          .as("share"))
  }

  /** Stationary distribution of the event-type Markov chain — where a
    * user's session settles in the long run (the steady-state companion
    * to [[transitionMatrix]]). Distributed transition counts → the
    * BOUNDED k×k probability matrix collects to the driver (k = distinct
    * event types; a dangling row with no outgoing mass falls back to
    * uniform, the standard correction) → `iters` fixed power iterations
    * with every fold in ascending type-index order, so an external
    * oracle replaying the same DAG gets bit-identical probabilities.
    * Returns (event_type, stationary), rounded to 6.
    */
  def stationaryDistribution(events: DataFrame, userCol: String,
      tsCol: String, typeCol: String, tieBreakCols: Seq[String],
      iters: Int = 30): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol)
      .orderBy((col(tsCol) +: tieBreakCols.map(col)).map(_.asc): _*)
    val trans = events
      .withColumn("prev_type", lag(col(typeCol), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n"))
    val types = events.select(col(typeCol).as("t")).distinct()
      .orderBy("t").collect().map(_.getString(0))
    val idx = types.zipWithIndex.toMap
    val k = types.length
    val counts = Array.ofDim[Long](k, k)
    trans.collect().foreach { r => // bounded: k*k rows
      counts(idx(r.getString(0)))(idx(r.getString(1))) = r.getLong(2)
    }
    val m = Array.tabulate(k, k) { (i, j) =>
      val s = counts(i).sum
      if (s > 0) counts(i)(j).toDouble / s else 1.0 / k
    }
    var v = Array.fill(k)(1.0 / k)
    for (_ <- 1 to iters) {
      v = Array.tabulate(k) { j =>
        var acc = 0.0; var i = 0
        while (i < k) { acc = acc + v(i) * m(i)(j); i += 1 }
        acc
      }
    }
    val spark = events.sparkSession
    import spark.implicits._
    types.toIndexedSeq.zip(v.toIndexedSeq).map { case (t, p) =>
      (t, round6(p))
    }.toDF("event_type", "stationary")
  }

  /** Stream-static enrichment join: attach a small, slowly-changing
    * dimension to the event stream (the reference-data pattern). The
    * static side is re-planned per micro-batch and broadcast, so the
    * stream side never shuffles; inner equi-joins need no watermark and
    * keep no state.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey))

  /** Streaming exact dedup with a watermark: state holds only ids newer
    * than the watermark, so memory is bounded by (arrival rate x
    * watermark), not by corpus size — the streaming face of Dedup.exact.
    */
  def streamingDedup(events: DataFrame, idCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicates(idCols :+ "ts")

  /** Streaming upsert sink: maintain a keyed snapshot from a change
    * stream via `foreachBatch` + [[graft.ops.Merge.upsert]] — the
    * standard "stream into a dimension table" production sink when the
    * target store has no native MERGE. Each micro-batch is first
    * collapsed to its latest row per key (`orderCol` descending —
    * within-batch last-write-wins), then merged into the running
    * snapshot; the snapshot is `localCheckpoint`ed every batch so the
    * plan does not grow with stream length (the same lineage-severing
    * pattern as clusterNearDups). `onSnapshot` receives the new snapshot
    * after every batch (write it to the real sink there).
    *
    * Durability contract: the running snapshot is DRIVER-SESSION state —
    * on a query restart it starts over from `initial`, so a durable
    * deployment must pass the last persisted table as `initial` (read it
    * back from wherever `onSnapshot` writes). localCheckpoint blocks are
    * also lost with an executor, which fails the stream rather than
    * corrupting it; the persisted sink + `initial` re-seed is the
    * recovery path.
    */
  def upsertSink(updates: DataFrame, keys: Seq[String], orderCol: String,
      initial: Option[DataFrame] = None, tieBreakCols: Seq[String] = Nil)(
      onSnapshot: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    var snapshot: Option[DataFrame] = initial
    updates.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // within-batch winner: orderCol desc, then tieBreakCols desc so
        // two same-key rows with equal orderCol pick deterministically
        // (without tie-breaks, orderCol must be unique per key per batch)
        val latest = graft.ext.Dedup.keepFirst(batch.toDF(), keys,
          col(orderCol).desc +: tieBreakCols.map(col(_).desc))
        val merged = snapshot match {
          case None      => latest
          case Some(cur) => graft.ops.Merge.upsert(cur, latest, keys)
        }
        snapshot = Some(merged.localCheckpoint())
        onSnapshot(snapshot.get)
      }
      .start()
  }
}
