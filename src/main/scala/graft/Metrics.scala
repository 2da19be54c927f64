package graft

import org.apache.spark.sql.SparkSession

/** Observed-metric plumbing for the no-silent-caps rule: operators whose
  * cost depends on a data-shaped intermediate (LSH candidate pairs, prefix
  * join survivors) attach a `Dataset.observe` count to that intermediate so
  * the number lands in the execution log of EVERY run — bench, verify, and
  * production — without a separate counting action. A corpus shift that
  * blows up a candidate set then shows up as a logged count next to the
  * slow query, instead of needing a post-hoc diagnostic rerun.
  *
  * `CollectMetrics` names must be unique within one query plan (an operator
  * can be instantiated twice in one query — e.g. the batch and corpus sides
  * of incrementalDedup), so [[name]] suffixes a process-wide counter.
  * The listener is registered once per session and logs any observed metric
  * whose name starts with `graft_`.
  */
object Metrics {
  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)
  // weak set: a stopped SparkSession must be collectable — a strong static
  // registry would leak every session a long-lived JVM ever created
  private val sessions: java.util.Set[SparkSession] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Unique observe-node name: `graft_<what>_<n>`. */
  def name(what: String): String = s"graft_${what}_${ctr.incrementAndGet()}"

  /** Keep graft.Metrics at INFO even when the session mains drop Spark to
    * WARN (Bench/Profile do) — the whole point of the observed counts is
    * that they appear in the bench log next to a slow run.
    */
  def enableLogging(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.Metrics", org.apache.logging.log4j.Level.INFO)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.Metrics")

  /** Log the graft_* observed metrics of an ALREADY-EXECUTED plan. The
    * QueryExecutionListener below only fires on Dataset actions; a raw RDD
    * action (`queryExecution.toRdd.foreach` — [[Session.materialize]],
    * Bench/Profile's full-materialization timing) bypasses it, but the
    * CollectMetrics accumulators still populate during execution, so
    * materialize calls this directly after the action.
    */
  def logObserved(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    qe.observedMetrics.filter(_._1.startsWith("graft_")).foreach { case (n, row) =>
      log.info(s"observed $n: ${row.mkString(", ")}")
    }

  /** Idempotently attach the graft_* metric logger to `spark`. */
  def ensureListener(spark: SparkSession): Unit =
    if (sessions.add(spark)) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          logObserved(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    }
}
