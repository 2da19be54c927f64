package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r17: ANN index persistence — the one-cell (flat) index written
  * through the DSv2 graft-avro sink, reloaded, and served without a
  * corpus-side rebuild or session pin.
  */
class SimilarityIndexPersistSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft_ann_ix").toString

  // tiny deterministic corpus: 40 vectors in 6 dims
  private def corpus = spark.range(40).select(
    col("id").as("vid"),
    array((0 until 6).map(d =>
      sin(col("id") * (d + 1) * 0.37).cast("double")): _*).as("e"))

  private def centroidsOf(df: org.apache.spark.sql.DataFrame) = df
    .orderBy(md5(col("vid").cast("string")), col("vid"))
    .limit(4).collect()
    .map(r => (r.getLong(0), r.getSeq[Double](1))).toIndexedSeq

  test("round trip: centroids bit-exact, adjacency set-equal") {
    val dir = tempDir()
    val cents = centroidsOf(corpus)
    Similarity.persistIndexHier(corpus, "vid", "e", cents, nCells = 1,
      graphK = 4, dir)
    val ix = Similarity.loadIndexHier(spark, dir)
    val loaded = ix.centroids.collect()
      .map(r => (r.getAs[Long]("cid"),
        r.getSeq[Double](r.fieldIndex("cvec"))))
    val edges = ix.edges
    // centroid doubles round-trip BIT-exactly (Avro binary double)
    assert(loaded.toMap.view.mapValues(_.toSeq).toMap ===
      cents.toMap.view.mapValues(_.toSeq).toMap)
    // adjacency is the same symmetrized distinct edge set the search
    // builds internally
    val kg = Similarity.knnGraph(corpus, "vid", "e", cents, 4)
      .select(col("src"), col("dst"))
    val expected = kg.union(kg.select(col("dst").as("src"),
      col("src").as("dst"))).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    // schema contract: the two-level layout partitions edges by cluster
    assert(edges.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq
      === Seq(("src", "long"), ("dst", "long"), ("cid", "long")))
  }

  test("search from the reloaded index equals the in-session build") {
    val dir = tempDir()
    val cents = centroidsOf(corpus)
    // the scope drops every session-cached artifact on exit: the reloaded
    // search must not lean on any pin — only the on-disk tables
    val inSession = graft.Caches.scoped {
      val inSession = Similarity.beamSearchKnnHier(corpus, "vid", "e",
          Similarity.indexFlat(corpus, "vid", "e", cents,
            graphK = 4),
          col("vid") < 5, k = 5, nProbe = 2, beamWidth = 4, hops = 3)
        .collect().map(_.toString).toSeq
      Similarity.persistIndexHier(corpus, "vid", "e", cents, nCells = 1,
        graphK = 4, dir)
      inSession
    }
    val reloaded = Similarity.beamSearchKnnHier(corpus, "vid", "e",
        Similarity.loadIndexHier(spark, dir),
        col("vid") < 5, k = 5, nProbe = 2, beamWidth = 4, hops = 3)
      .collect().map(_.toString).toSeq
    assert(reloaded === inSession)
  }
}
