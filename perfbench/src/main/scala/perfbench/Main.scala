package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One measured operation of a workload. `seconds` covers the engine
  * calls only; the output checks run after the clock stops.
  */
final case class Op(kind: String, seconds: Double, items: Long, digest: String,
    problems: Seq[String])

/** A benchmark workload: set-up work, a closed-loop op, end-of-run checks. */
trait Workload {
  /** The op kind whose latency is the workload's headline number. */
  def mainKind: String
  /** Set-up work (index build, warm-up), timed into `setup_s`. */
  def prepare(): Unit
  /** Whether [[prepare]] runs traced in a traced run. */
  def traceSetup: Boolean = false
  /** Fewest ops a run measures, however long they take. */
  def minOps: Int = 1
  /** Measured op number `i` (0-based). */
  def op(i: Int): Op
  /** Key under which op `i`'s digest must repeat exactly. */
  def digestKey(i: Int): String
  /** End-of-run checks and workload-specific metrics. */
  def finish(): (Map[String, Any], Seq[String])
  /** Committed graft-avro bytes per output row. */
  def avroBytesPerRow: Double
}

/** Benchmark JVM entry point (launched by `perfbench/run.py`).
  *
  * {{{
  * perfbench.Main --workload W --data DIR --work DIR --seconds S
  *   --trace 0|1 --result FILE [--cores N] [--corrupt]
  * }}}
  *
  * One client thread runs the workload's op in a closed loop for S
  * seconds (at least the workload's `minOps` ops). With `--trace 1` every op is
  * traced and the run reports the per-layer metrics plus its own op
  * latency, `trace.op_s_p50`; its ratio to an untraced run's `op_s_p50`
  * is the tracing overhead. `--corrupt` damages every output before its
  * check (the harness's own smoke test: the check must trip).
  */
object Main {
  final case class Args(workload: String, data: String, work: String, seconds: Double,
      trace: Boolean, result: String, cores: Int, corrupt: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val flags = argv.toSet
    def req(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(req("--workload"), req("--data"), req("--work"), req("--seconds").toDouble,
      m.getOrElse("--trace", "0") == "1", req("--result"),
      m.getOrElse("--cores", "4").toInt, flags("--corrupt"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // the harness adds no session artifacts; without this every codegen
      // compile's class-name probes go to the driver over RPC first
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def now(): Double = System.nanoTime() / 1e9

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def sha(parts: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The committed `.avro` files under `dir`. */
  def avroFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".avro")) Seq(f) else Nil
    walk(new File(dir))
  }

  def avroBytes(dir: String): Long = avroFiles(dir).map(_.length).sum

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val a = parse(argv)
    new File(a.work).mkdirs()
    val manifest: JsonNode = new ObjectMapper().readTree(new File(s"${a.data}/manifest.json"))
    val spark = session(a)
    val sessionReady = System.currentTimeMillis() / 1000.0
    val tracer = new Tracer(spark)
    val w: Workload = a.workload match {
      case "etl_harmonize" => new EtlHarmonize(spark, tracer, a.data, a.work, manifest, a.corrupt)
      case "ann_serve" => new AnnServe(spark, tracer, a.data, a.work, manifest, a.corrupt)
      case "llm_curate" => new LlmCurate(spark, tracer, a.data, a.work, manifest, a.corrupt)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up: JVM start to session, then the workload's set-up work
    tracer.on = a.trace && w.traceSetup
    tracer.setup = true
    val t0 = now()
    graft.Caches.scoped(w.prepare())
    val prepSec = now() - t0
    tracer.on = false
    tracer.setup = false
    val setupS = (sessionReady - jvmStart) + prepSec
    System.err.println(f"[perfbench] session ${sessionReady - jvmStart}%.2f s, prepare $prepSec%.2f s")

    // ---- closed loop, one client
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val loopStart = now()
    var i = 0
    while (now() - loopStart < a.seconds || i < w.minOps) {
      val traced = a.trace
      tracer.on = traced
      val o = try w.op(i) catch {
        case e: Throwable =>
          Op("error", 0.0, 0L, "", Seq(s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
      } finally tracer.on = false
      val key = w.digestKey(i)
      val drift = digests.get(key).filter(_ != o.digest && o.digest.nonEmpty)
        .map(_ => s"op $i: output digest differs from an earlier op on the same input").toSeq
      if (o.digest.nonEmpty) digests.getOrElseUpdate(key, o.digest)
      ops += o.copy(problems = o.problems ++ drift)
      System.err.println(f"[perfbench] op $i ${o.kind} ${o.seconds}%.3f s" +
        (if (traced) " traced" else "") +
        (if (o.problems.nonEmpty || drift.nonEmpty) " FAILED " + (o.problems ++ drift).mkString("; ") else ""))
      i += 1
    }
    val finishStart = now()
    val (finishMetrics, finishProblems) = w.finish()
    System.err.println(f"[perfbench] end-of-run checks ${now() - finishStart}%.2f s")

    // ---- metrics
    val all = ops.toSeq
    val failed = all.count(_.problems.nonEmpty)
    val attempted = all.size
    val busy = all.map(_.seconds).sum
    val mainLat = all.filter(_.kind == w.mainKind).map(_.seconds).toSeq
    val e2e = Map[String, Any](
      "setup_s" -> setupS,
      "op_s_p50" -> median(mainLat),
      // the headline: a median of ann_serve's three searches swings with
      // where they fall in the JIT's warm-up; their mean does not
      "op_s_mean" -> mainLat.sum / mainLat.size,
      "items_per_s" -> all.map(_.items).sum / busy,
      "peak_rss_mb" -> peakRssMb(),
      "avro_bytes_per_row" -> w.avroBytesPerRow)
    val layers: Map[String, Any] =
      if (!a.trace) Map.empty
      else tracer.metrics(Workloads.allSpans, attempted) + ("trace.op_s_p50" -> median(mainLat))
    val firstDigests = all.take(3).map(_.digest)
    val problems = all.flatMap(_.problems) ++ finishProblems
    val out = Map[String, Any](
      "workload" -> a.workload,
      "correct" -> (failed == 0 && finishProblems.isEmpty),
      "attempted" -> attempted,
      "failed" -> failed,
      "problems" -> problems.take(20),
      "digest" -> sha(firstDigests),
      "e2e" -> e2e,
      "detail" -> (finishMetrics ++ Map(
        "setup_session_s" -> (sessionReady - jvmStart),
        "setup_prepare_s" -> prepSec,
        "error_ratio" -> failed.toDouble / attempted,
        "busy_s" -> busy,
        "op_seconds" -> all.map(o => Map("kind" -> o.kind, "s" -> o.seconds)))),
      "layers" -> layers,
      "env" -> Map(
        "local" -> s"local[${a.cores}]",
        "cores" -> a.cores,
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> System.getProperty("java.vm.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString))
    Files.write(Paths.get(a.result), Json.write(out).getBytes(StandardCharsets.UTF_8))
    val stopStart = now()
    spark.stop()
    System.err.println(f"[perfbench] session stop ${now() - stopStart}%.2f s")
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
