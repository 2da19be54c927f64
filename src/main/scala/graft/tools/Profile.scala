package graft.tools

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev utility: profile registered queries in one session. Usage:
  *   runMain graft.tools.Profile <sfDir> <q1,q2,...>
  * The names run in order, each in its own `Caches.scoped` block and
  * timed as Bench times it ([[graft.Session.materialize]]). A repeated
  * name is a warm rerun; queries listed before the one of interest run
  * it in a bench-like context (pinned artifacts, cached storage).
  *
  * Per run it prints wall seconds, rows, jobs, stages and tasks, the
  * slowest jobs by description, the slowest stages by the RDD scope names
  * of their operators, the classes Janino compiled and the milliseconds
  * it took (a warm rerun compiles only what the codegen cache evicted),
  * and the cached storage left once the scope has closed. The `graft_*`
  * observed counts go to the log. Plans are PlanDump's.
  */
object Profile {

  /** One run of one query. `failure` holds the error message of a run
    * that threw; its counts cover the work done before it did.
    */
  final case class Report(name: String, seconds: Double, rows: Long,
      failure: Option[String], jobs: Int, stages: Int, tasks: Int,
      topJobs: Seq[(Double, String)], topStages: Seq[(Double, Int, String)],
      compiledClasses: Long, compileMs: Double,
      persistentRdds: Int, cachedMb: Double)

  private val Top = 12
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME

  /** Folds the scheduler events of one run; [[take]] resets it. */
  private final class Recorder extends SparkListener {
    private val started = mutable.HashMap.empty[Int, (Long, String)]
    private val jobs = mutable.ArrayBuffer.empty[(Double, String)]
    private val stages = mutable.ArrayBuffer.empty[(Double, Int, String)]
    private var tasks = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.fold("?")(_.name))
      started(e.jobId) = (e.time, desc.replaceAll("\\s+", " ").take(100))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, desc) => jobs += (((e.time - t0) / 1e3, desc)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val sec = (for (end <- i.completionTime; start <- i.submissionTime)
        yield (end - start) / 1e3).getOrElse(-1.0)
      // the stage name is only the action's call site; the RDD scopes
      // name the physical operators the stage runs
      val scopes = i.rddInfos.sortBy(_.id).map(r => r.scope.map(_.name).getOrElse(r.name)).distinct
      stages += ((sec, i.numTasks, scopes.mkString(">").take(140)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized(tasks += 1)

    def take(): (Seq[(Double, String)], Seq[(Double, Int, String)], Int) = synchronized {
      val out = (jobs.toList, stages.toList, tasks)
      started.clear(); jobs.clear(); stages.clear(); tasks = 0
      out
    }
  }

  /** Run `names` in order on `spark`, one report per run. The listener is
    * removed again; the session is left running.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Report] = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    try names.map { name =>
      GraftListenerBus.drain(sc)
      rec.take()
      // JVM-wide codegen counters: every compile (driver or local
      // executor thread) adds one histogram sample and its nanoseconds
      val (classes0, compileNs0) = (compiles.getCount, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      val result =
        try Right(graft.Caches.scoped(
          graft.Session.materialize(graft.SparkEntry.queries(name)(spark, sfDir))))
        catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
      val sec = (System.nanoTime() - t0) / 1e9
      val (classes, compileMs) = (compiles.getCount - classes0,
        (CodeGenerator.compileTime - compileNs0) / 1e6)
      GraftListenerBus.drain(sc)
      val (jobs, stages, tasks) = rec.take()
      val storage = sc.getRDDStorageInfo
      Report(name, sec, result.getOrElse(-1L), result.swap.toOption,
        jobs.size, stages.size, tasks, jobs.sortBy(-_._1).take(Top),
        stages.sortBy(-_._1).take(Top), classes, compileMs, sc.getPersistentRDDs.size,
        storage.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0))
    } finally sc.removeSparkListener(rec)
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: Profile <sfDir> <q1,q2,...>")
      sys.exit(2)
    }
    val spark = graft.Session.local(graft.Session.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    graft.Metrics.enableLogging()
    // untimed warmup: session and JVM start-up would otherwise land on
    // the first run
    spark.range(1000).selectExpr("sum(id)").collect()
    val reports = run(spark, args(0), args(1).split(',').toSeq)
    spark.stop()
    val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    reports.foreach { r =>
      seen(r.name) += 1
      println(f"[profile] ${r.name} #${seen(r.name)}: ${r.seconds}%.2f s  rows=${r.rows}  " +
        s"jobs=${r.jobs} stages=${r.stages} tasks=${r.tasks}")
      r.failure.foreach(m => println(s"[profile]   FAILED: $m"))
      r.topJobs.foreach { case (s, d) => println(f"[profile]   job   $s%7.2f s  $d") }
      r.topStages.foreach { case (s, n, ops) =>
        println(f"[profile]   stage $s%7.2f s  tasks=$n%-4d $ops")
      }
      println(f"[profile]   codegen: classes=${r.compiledClasses} compile=${r.compileMs}%.0f ms")
      println(f"[profile]   storage: persistentRDDs=${r.persistentRdds} cached=${r.cachedMb}%.1f MB")
    }
    val failed = reports.count(_.failure.isDefined)
    if (failed > 0) {
      System.err.println(s"[profile] $failed run${if (failed == 1) "" else "s"} failed")
      sys.exit(1)
    }
  }
}
