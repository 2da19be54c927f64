package graft.ext

import graft.SparkSpec

class KnnGraphSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated groups; centroids at the group axes
  private val vecs = Seq(
    (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.8, 0.2)),
    (10L, Seq(0.0, 1.0)), (11L, Seq(0.1, 0.9))
  ).toDF("id", "v")
  private val cents = IndexedSeq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0))

  test("edges stay within a cluster and rank by cosine desc") {
    val out = Similarity.knnGraph(vecs, "id", "v", cents, k = 2)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Int]("rn"),
        r.getAs[Long]("dst"), r.getAs[Double]("cos")))
    val groupA = Set(1L, 2L, 3L)
    assert(out.forall { case (s, _, d, _) =>
      groupA(s) == groupA(d) }, s"cross-cluster edge in ${out.toSeq}")
    // node 1's nearest neighbor is 2 (closer in angle than 3)
    val n1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(n1.map(_._3).toSeq === Seq(2L, 3L))
    assert(n1.head._4 > n1(1)._4)
    // the 2-node cluster yields exactly one neighbor each
    assert(out.count(_._1 == 10L) === 1 && out.count(_._1 == 11L) === 1)
  }

  test("k bounds the per-node degree") {
    val out = Similarity.knnGraph(vecs, "id", "v", cents, k = 1)
    val deg = out.groupBy("src").count().collect().map(_.getLong(1))
    assert(deg.forall(_ === 1L))
  }

  test("pair generation is an equi-join on the cluster id, never a cartesian") {
    val plan = Similarity.knnGraph(vecs, "id", "v", cents, k = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("src"), r.getAs[Int]("rn"),
      r.getAs[Long]("dst"), r.getAs[Double]("cos"))).sortBy(t => (t._1, t._2)).toSeq

  test("mutualKnnPairs keeps exactly the reciprocal edges, canonically ordered") {
    // k=1 on the 3-node cluster: 1->2, 2->1 (mutual), 3->2 (2's top-1 is
    // 1, so 3-2 is one-directional); the 2-node cluster is mutual
    val g = Similarity.knnGraph(vecs, "id", "v", cents, k = 1)
    val out = Similarity.mutualKnnPairs(g).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(out === Set((1L, 2L), (10L, 11L)))
    // cos rides the forward edge and matches the graph's value
    val cos12 = Similarity.mutualKnnPairs(g)
      .where("id_a = 1").collect().head.getAs[Double]("cos")
    val gCos = g.where("src = 1 AND dst = 2").collect().head.getAs[Double]("cos")
    assert(cos12 === gCos)
  }

  test("mutualKnnPairs is a single equi-join over the edge table, never a cartesian") {
    val g = Similarity.knnGraph(vecs, "id", "v", cents, k = 2)
    val plan = Similarity.mutualKnnPairs(g).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
  }

  test("incremental insert equals the full rebuild on the real embeddings") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e")
    val cents = emb
      .orderBy(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("vec_id").cast("string")),
        org.apache.spark.sql.functions.col("vec_id"))
      .limit(8).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toIndexedSeq
    val base = emb.where("vec_id % 10 != 9")
    val batch = emb.where("vec_id % 10 = 9")
    graft.Caches.scoped {
      val rebuild = Similarity.knnGraph(emb, "vec_id", "e", cents, k = 5)
      val baseGraph = Similarity.knnGraph(base, "vec_id", "e", cents, k = 5)
        .localCheckpoint(true)
      val inserted = Similarity.knnGraphInsert(baseGraph, base, batch,
        "vec_id", "e", cents, k = 5)
      assert(rows(inserted) === rows(rebuild))
    }
  }

  test("insert touches only batch-adjacent adjacency; disjoint clusters pass through verbatim") {
    // batch lands entirely in cluster 1; cluster 0's rows must be
    // byte-identical to the base graph (the verbatim pass-through path)
    val base = vecs
    val batch = Seq((12L, Seq(0.2, 0.8))).toDF("id", "v")
    graft.Caches.scoped {
      val baseGraph = Similarity.knnGraph(base, "id", "v", cents, k = 2)
        .localCheckpoint(true)
      val out = Similarity.knnGraphInsert(baseGraph, base, batch,
        "id", "v", cents, k = 2)
      val groupA = Set(1L, 2L, 3L)
      assert(rows(out.where(out("src").isin(1L, 2L, 3L))) ===
        rows(baseGraph.where(baseGraph("src").isin(1L, 2L, 3L))))
      // cluster 1 gained the batch node: 10/11 now have 2 neighbors and 12
      // has its own adjacency; everything equals the rebuild
      val rebuild = Similarity.knnGraph(base.unionByName(batch), "id", "v", cents, k = 2)
      assert(rows(out) === rows(rebuild))
      assert(rows(out).filter(t => !groupA(t._1)).nonEmpty)
    }
  }
}
