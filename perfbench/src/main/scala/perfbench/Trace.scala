package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Per-layer tracing for the benchmark's traced run.
  *
  * The client thread wraps each call into a layer's public function in
  * [[span]]. While a span is open its name rides on the Spark local
  * property `perfbench.span`, so every job the call submits — also from
  * threads the engine spawns, which inherit local properties — is tagged
  * with it. A [[SparkListener]] folds job, stage and task events into
  * per-span counters; a [[QueryExecutionListener]] adds Catalyst planning
  * time and the operators' `graft_*` observed counts. Spans and counters
  * stay in memory and are read once, at the end of the run.
  *
  * When tracing is off for an op, [[span]] and [[stage]] only run their
  * body: no property is set, nothing is materialized, nothing recorded.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  /** Whether the op now running is traced. */
  @volatile var on = false
  /** Whether traced work is set-up work: it gets its spans but stays out
    * of the whole-run, per-op counters.
    */
  @volatile var setup = false

  private final class Span(val name: String, val startMs: Long) {
    var endMs = 0L
  }
  private final class Acc {
    var jobs = 0L
    var taskMs = 0L
    var maxTaskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var planMs = 0.0
    var avroRecords = 0L
    var avroBytes = 0L
    var taskFailures = 0L
    var candidates = 0L
    var verifiedPairs = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val accs = new ConcurrentHashMap[String, Acc]()
  /** Everything the measured (non-set-up) ops ran. */
  private val ops = new Acc
  private def acc(span: String): Acc = accs.computeIfAbsent(span, _ => new Acc)
  // listener-side maps (listener bus thread; read after the bus drains)
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val jobTimes = new ConcurrentHashMap[Int, Array[Long]]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val opStages = ConcurrentHashMap.newKeySet[Int]()
  private val opExecs = ConcurrentHashMap.newKeySet[Long]()
  private val avroStages = ConcurrentHashMap.newKeySet[Int]()
  private val execSpan = new ConcurrentHashMap[Long, String]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  private var registeredPeak = 0
  private var storagePeakBytes = 0L
  private val observed = mutable.LinkedHashMap.empty[String, (Double, Int)]

  /** Record one observation of a harness-side count (reported as the mean
    * over observations); ignored when the op is not traced.
    */
  def observe(metric: String, v: Double): Unit = if (on) {
    val (s, n) = observed.getOrElse(metric, (0.0, 0))
    observed(metric) = (s + v, n + 1)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventMs = System.currentTimeMillis()
      val props = e.properties
      val span = if (props == null) null else props.getProperty(SpanProp)
      if (span != null) {
        jobSpan.put(e.jobId, span)
        jobTimes.put(e.jobId, Array(e.time, 0L))
        e.stageIds.foreach(s => stageSpan.put(s, span))
        val ex = props.getProperty("spark.sql.execution.id")
        if (ex != null) execSpan.putIfAbsent(ex.toLong, span)
        acc(span).synchronized(acc(span).jobs += 1)
        if (props.getProperty(SetupProp) == null) {
          e.stageIds.foreach(s => opStages.add(s))
          if (ex != null) opExecs.add(ex.toLong)
          ops.synchronized(ops.jobs += 1)
        }
      }
      e.stageInfos.foreach { si =>
        if (si.rddInfos.exists(_.name.contains("DataSourceRDD"))) avroStages.add(si.stageId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      val t = jobTimes.get(e.jobId)
      if (t != null) t(1) = e.time
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        lastEventMs = System.currentTimeMillis()
        onExecutionEnd(end)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      val span = stageSpan.get(e.stageId)
      if (span == null) return
      fold(acc(span), e)
      if (opStages.contains(e.stageId)) fold(ops, e)
    }
  }

  private def fold(a: Acc, e: SparkListenerTaskEnd): Unit = a.synchronized {
    if (e.reason != Success) a.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      if (avroStages.contains(e.stageId)) {
        a.avroRecords += m.inputMetrics.recordsRead
        a.avroBytes += m.inputMetrics.bytesRead
      }
    }
  }

  // The QueryExecutionListener sees each finished SQL execution's plan
  // but not its execution id; the SparkListener sees the id on the same
  // event right after (one shared queue, registration order), and pairs
  // the two.
  @volatile private var lastQe: (String, QueryExecution) = null
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lastQe = (funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      lastQe = null
  }

  private def onExecutionEnd(e: SparkListenerSQLExecutionEnd): Unit = {
    val paired = lastQe
    lastQe = null
    val span = execSpan.get(e.executionId)
    if (paired == null || span == null) return
    val qe = paired._2
    val ms = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    val cands = qe.observedMetrics.collect {
      case (n, row) if n.startsWith("graft_minhash_candidates") => row.getLong(0)
    }.sum
    val verified = if (cands > 0) verifiedPairs(qe.executedPlan) else 0L
    val a = acc(span)
    a.synchronized {
      a.planMs += ms
      a.candidates += cands
      a.verifiedPairs += verified
    }
    if (opExecs.contains(e.executionId)) ops.synchronized(ops.planMs += ms)
  }

  spark.listenerManager.register(qeListener)
  spark.sparkContext.addSparkListener(listener)

  /** Run `body` as span `name` of the current op. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanProp)
    val s = new Span(name, System.currentTimeMillis())
    sc.setLocalProperty(SpanProp, name)
    sc.setLocalProperty(SetupProp, if (setup) "1" else null)
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(SpanProp, outer)
      sc.setLocalProperty(SetupProp, null)
      spans.synchronized(spans += s)
      sample()
    }
  }

  /** A span whose output is a lazy frame. When traced, the frame is
    * persisted and counted inside the span, so the work it stands for is
    * billed here and not to whichever later span first touches it. `keep`
    * marks a frame several later steps read: it is persisted (lazily)
    * untraced too. Persisted frames are registered with [[graft.Caches]],
    * so the op's `Caches.scoped` block releases them.
    */
  def stage(name: String, keep: Boolean = false)(body: => DataFrame): DataFrame =
    if (!on) {
      if (keep) graft.Caches.register(body.persist(StorageLevel.MEMORY_AND_DISK)) else body
    } else span(name) {
      val df = graft.Caches.register(body.persist(StorageLevel.MEMORY_AND_DISK))
      df.count()
      df
    }

  private def sample(): Unit = {
    registeredPeak = math.max(registeredPeak, graft.Caches.registeredCount)
    val bytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    storagePeakBytes = math.max(storagePeakBytes, bytes)
  }

  /** Wait until the listener bus has been quiet for a moment, so every
    * event of the traced ops has been folded in.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (System.currentTimeMillis() - lastEventMs < 500 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
  }

  /** Per-layer metrics. A span's figures are means per call of that
    * span (set-up calls included); the whole-run counters are means per
    * measured op (`traced` ops), set-up work excluded.
    */
  def metrics(spanNames: Seq[String], traced: Int): Map[String, Double] = {
    drain()
    val perOp = math.max(1, traced).toDouble
    val byName = spans.groupBy(_.name)
    val none = new Acc
    def accOf(name: String) = Option(accs.get(name)).getOrElse(none)
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (name <- spanNames) {
      val ss = byName.getOrElse(name, Nil)
      val per = math.max(1, ss.size).toDouble
      val a = accOf(name)
      val wallMs = ss.map(s => s.endMs - s.startMs).sum
      val covered = ss.map(s => coveredMs(name, s.startMs, s.endMs)).sum
      out(s"$name.self_s") = wallMs / 1000.0 / per
      out(s"$name.driver_s") = math.max(0L, wallMs - covered) / 1000.0 / per
      out(s"$name.jobs") = a.jobs / per
      out(s"$name.task_s") = a.taskMs / 1000.0 / per
      out(s"$name.shuffle_bytes") = a.shuffleBytes / per
      out(s"$name.plan_ms") = a.planMs / per
    }
    val mh = accOf("ext.dedup.minhash")
    val mhCalls = math.max(1, byName.getOrElse("ext.dedup.minhash", Nil).size).toDouble
    out("ext.dedup.minhash.candidates") = mh.candidates / mhCalls
    out("ext.dedup.minhash.yield") =
      if (mh.candidates == 0) 0.0 else mh.verifiedPairs.toDouble / mh.candidates
    out("sources.avro_scan.records_read") = ops.avroRecords / perOp
    out("sources.avro_scan.bytes_read") = ops.avroBytes / perOp
    out("pipeline.max_task_s") = accOf("pipeline.run").maxTaskMs / 1000.0
    out("spark.jobs") = ops.jobs / perOp
    out("spark.plan_ms") = ops.planMs / perOp
    out("spark.spill_bytes") = ops.spillBytes / perOp
    out("spark.task_failures") = ops.taskFailures.toDouble
    out("caches.registered_peak") = registeredPeak.toDouble
    out("caches.storage_mb_peak") = storagePeakBytes / 1048576.0
    observed.foreach { case (k, (s, n)) => out(k) = s / n }
    out.toMap
  }

  /** Milliseconds of [start, end] covered by at least one of the span's jobs. */
  private def coveredMs(span: String, start: Long, end: Long): Long = {
    val iv = jobTimes.asScala.collect {
      case (id, t) if jobSpan.get(id) == span && t(1) > 0 =>
        (math.max(start, t(0)), math.min(end, t(1)))
    }.filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val SpanProp = "perfbench.span"
  val SetupProp = "perfbench.setup"

  /** Verified near-duplicate pairs of a minhash plan: output rows of the
    * Jaccard filter (the largest, should a plan carry it more than once).
    */
  private[perfbench] def verifiedPairs(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case f: FilterExec if f.condition.sql.contains("array_intersect") =>
        f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.foldLeft(0L)(math.max)
}
