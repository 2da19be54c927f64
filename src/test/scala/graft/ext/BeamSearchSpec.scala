package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class BeamSearchSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated clusters on the axes; node 1 is the query
  private val vecs = Seq(
    (0L, Seq(1.0, 0.0)),   // centroid node of cluster 0
    (1L, Seq(0.95, 0.05)), // the query (also a corpus node)
    (2L, Seq(0.9, 0.1)),
    (3L, Seq(0.8, 0.2)),
    (10L, Seq(0.0, 1.0)),  // centroid node of cluster 1
    (11L, Seq(0.1, 0.9)),
    (12L, Seq(0.2, 0.8))
  ).toDF("id", "v")
  private val cents = IndexedSeq(0L -> Seq(1.0, 0.0), 10L -> Seq(0.0, 1.0))
  // the flat index: one cell holding every centroid
  private def flat(graphK: Int) =
    Similarity.indexFlat(vecs, "id", "v", cents, graphK = graphK)

  test("beam search finds the exact top-k when both clusters are probed") {
    val out = Similarity.beamSearchKnnHier(vecs, "id", "v", flat(3),
        col("id") === 1, k = 7, nProbe = 2, beamWidth = 3, hops = 3)
      .collect()
    // every corpus node is reachable through the two entries -> the
    // ranking must be the exact cosine order for query (0.95, 0.05)
    val ids = out.sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("vec_id")).toSeq
    // cos((0.95,0.05), (1,0)) ≈ 0.99861 beats cos to (0.9,0.1) ≈ 0.99832
    assert(ids.take(4) === Seq(1L, 0L, 2L, 3L),
      s"own vector first, then by angle: $ids")
    assert(ids.toSet === Set(0L, 1L, 2L, 3L, 10L, 11L, 12L))
    // rn is dense 1..k per query
    assert(out.map(_.getAs[Int]("rn")).sorted.toSeq === (1 to 7))
  }

  test("nProbe=1 confines the search to the entry cluster") {
    val out = Similarity.beamSearchKnnHier(vecs, "id", "v", flat(3),
        col("id") === 1, k = 7, nProbe = 1, beamWidth = 3, hops = 3)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(out === Set(0L, 1L, 2L, 3L),
      s"cluster-1 nodes must be unreachable with one probe: $out")
  }

  test("recall audit is 1.0 when the beam covers the corpus, and bounded otherwise") {
    val full = Similarity.beamRecallAuditHier(vecs, "id", "v", flat(3),
        col("id") === 1, k = 5, nProbe = 2, beamWidth = 3, hops = 3)
      .collect()
    assert(full.length === 1)
    assert(full.head.getAs[Long]("n_hits") === 5L)
    assert(approx(full.head.getAs[Double]("recall"), 1.0))
    val one = Similarity.beamRecallAuditHier(vecs, "id", "v", flat(3),
        col("id") === 1, k = 5, nProbe = 1, beamWidth = 3, hops = 3)
      .collect()
    assert(one.head.getAs[Long]("n_hits") < 5L)
  }

  test("per-hop expansion is an equi-join probe, never a cartesian") {
    val plan = Similarity.beamSearchKnnHier(vecs, "id", "v", flat(2),
        col("id") === 1, k = 3, nProbe = 2, beamWidth = 2, hops = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("argument validation") {
    intercept[IllegalArgumentException] {
      Similarity.beamSearchKnnHier(vecs, "id", "v", flat(8), col("id") === 1,
        k = 3, hops = 9)
    }
    intercept[IllegalArgumentException] {
      Similarity.beamSearchKnnHier(vecs, "id", "v",
        Similarity.indexFlat(vecs, "id", "v", IndexedSeq.empty,
          graphK = 8),
        col("id") === 1, k = 3)
    }
  }
}
