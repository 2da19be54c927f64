package graft.tools

/** Dev utility: run one SQL statement against the graft session with every
  * testdata table registered as a temp view.
  * Usage: runMain graft.tools.Sql <sfDir> "<sql>"
  */
object Sql {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.all.foreach { t =>
      graft.Tables.load(spark, args(0), t).createOrReplaceTempView(t)
    }
    spark.sql(args(1)).show(100, truncate = false)
    spark.stop()
  }
}
