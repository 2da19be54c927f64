package graft.tools

import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** Ad-hoc probe: bound-routed hierarchical recall vs the flat baseline
  * (must be EQUAL by the triangle-inequality bound's exactness).
  */
object ProbeHier {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cents = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(8).collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val flat = graft.Caches.scoped(Similarity.beamRecallAudit(emb, "vec_id",
        "e", cents.toIndexedSeq, col("vec_id") < 10, k = 10, beamWidth = 8,
        hops = 6, graphK = 8, nProbe = 4)
      .agg(avg("recall"), min("recall")).collect().head)
    println(s"[probe] flat nProbe=4: avg=${flat.get(0)} min=${flat.get(1)}")
    val ixDir = java.nio.file.Files.createTempDirectory("probe_hier").toString
    Similarity.persistIndexHier(emb, "vec_id", "e", cents.toIndexedSeq,
      nCells = 4, graphK = 8, ixDir)
    val ix = Similarity.loadIndexHier(spark, ixDir)
    val r = Similarity.beamRecallAuditHier(emb, "vec_id", "e", ix,
        col("vec_id") < 10, k = 10, nProbe = 4, beamWidth = 8, hops = 6)
      .agg(avg("recall"), min("recall")).collect().head
    println(s"[probe] hier bound-routed nCells=4 nProbe=4: avg=${r.get(0)} min=${r.get(1)}")
    spark.stop()
  }
}
