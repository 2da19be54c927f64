package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev utility (r20): write `.explain("formatted")` output of registered
  * queries to files — the plan evidence the optimization rounds commit
  * under `plans/<round>/`. Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  * writes `<outDir>/<query>_<suffix>.txt` for each query. Construction
  * side effects (fixture builds, index lifecycles) run as in the bench.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // r21 ADVICE: explicit usage on bad arity, non-zero exit on any
    // per-query failure — a plan-evidence run that produced nothing must
    // not look successful to a calling script.
    if (args.length < 4) {
      System.err.println(
        "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    var failures = 0
    names.split(',').foreach { n =>
      try graft.Caches.scoped {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
      } catch { case e: Throwable =>
        failures += 1
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failures > 0) {
      System.err.println(s"[plandump] $failures quer${
        if (failures == 1) "y" else "ies"} failed")
      sys.exit(1)
    }
  }
}
