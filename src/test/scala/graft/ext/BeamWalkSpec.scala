package graft.ext

import graft.SparkSpec
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The task-side beam walk and the entry routing of
  * `Similarity.beamSearchKnnHier`: rows pinned to the ones the per-hop
  * DataFrame walk and the window/aggregate routing chain returned on the
  * same index, and a job count that does not depend on the hop budget.
  */
class BeamWalkSpec extends SparkSpec {

  // 300 pseudo-random 16-d vectors; ids 100-129 and 200-229 repeat the
  // vectors of ids 0-29, so round-6 cosines tie in threes (centroid 100
  // duplicates centroid 0: one walk can start from two entries)
  private def emb = spark.range(300).select(col("id").as("vec_id"),
      when(col("id") >= 100 && col("id") % 100 < 30, col("id") % 100)
        .otherwise(col("id")).as("src"))
    .select(col("vec_id"), transform(sequence(lit(0), lit(15)), j =>
      (pmod(hash(col("src"), j), lit(2000)) - lit(1000)) / lit(1000.0)).as("e"))

  /** Two-cell index over the ids outside the batch, then the batch
    * (even ids >= 270) inserted and the artifact reloaded.
    */
  private lazy val index: Similarity.HierIndex = {
    val dir = java.nio.file.Files.createTempDirectory("graft_beam_walk").toString
    val cents = emb.where(col("vec_id").isin(0L, 1L, 2L, 3L, 100L)).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toIndexedSeq
    val isBatch = col("vec_id") >= 270 && col("vec_id") % 2 === 0
    graft.Caches.scoped {
      Similarity.persistIndexHier(emb.where(!isBatch), "vec_id", "e", cents,
        nCells = 2, graphK = 2, dir)
      Similarity.insertIndexHier(emb.where(!isBatch), emb.where(isBatch),
        "vec_id", "e", graphK = 2, dir)
    }
    Similarity.loadIndexHier(spark, dir)
  }

  private def search(hops: Int, beamWidth: Int): Seq[String] =
    Similarity.beamSearchKnnHier(emb, "vec_id", "e", index,
        col("vec_id").isin(5L, 18L, 27L, 104L, 272L, 291L), k = 4, nProbe = 2,
        beamWidth = beamWidth, hops = hops)
      .collect().toSeq
      .map(r => s"${r.getLong(0)},${r.getInt(1)},${r.getLong(2)},${r.get(3)}")

  // (query_id, rn, vec_id, cos) rows of the per-hop DataFrame walk
  // (localCheckpoint per hop) that the task-side walk replaced
  private val expected: Map[(Int, Int), String] = Map(
    (1, 1) ->
      ("5,1,44,0.537027 5,2,45,0.32515 5,3,3,0.322792 5,4,103,0.322792 " +
        "18,1,150,0.240481 18,2,68,0.182366 18,3,80,0.142083 18,4,2,0.135885 " +
        "27,1,0,0.220569 27,2,100,0.220569 27,3,200,0.220569 27,4,196,0.101653 " +
        "104,1,0,0.419945 104,2,100,0.419945 104,3,200,0.419945 104,4,196,0.371868 " +
        "272,1,2,0.336507 272,2,102,0.336507 272,3,202,0.336507 272,4,196,0.289794 " +
        "291,1,291,1.0 291,2,70,0.612728 291,3,2,0.596968 291,4,102,0.596968"),
    (1, 3) ->
      ("5,1,44,0.537027 5,2,45,0.32515 5,3,3,0.322792 5,4,103,0.322792 " +
        "18,1,150,0.240481 18,2,68,0.182366 18,3,80,0.142083 18,4,2,0.135885 " +
        "27,1,0,0.220569 27,2,100,0.220569 27,3,200,0.220569 27,4,196,0.101653 " +
        "104,1,0,0.419945 104,2,100,0.419945 104,3,200,0.419945 104,4,196,0.371868 " +
        "272,1,2,0.336507 272,2,102,0.336507 272,3,202,0.336507 272,4,196,0.289794 " +
        "291,1,291,1.0 291,2,70,0.612728 291,3,2,0.596968 291,4,102,0.596968"),
    (6, 1) ->
      ("5,1,44,0.537027 5,2,267,0.386713 5,3,45,0.32515 5,4,3,0.322792 " +
        "18,1,150,0.240481 18,2,247,0.223824 18,3,195,0.196572 18,4,68,0.182366 " +
        "27,1,0,0.220569 27,2,100,0.220569 27,3,200,0.220569 27,4,196,0.101653 " +
        "104,1,0,0.419945 104,2,100,0.419945 104,3,200,0.419945 104,4,196,0.371868 " +
        "272,1,193,0.477428 272,2,87,0.363154 272,3,2,0.336507 272,4,102,0.336507 " +
        "291,1,291,1.0 291,2,42,0.676716 291,3,70,0.612728 291,4,2,0.596968"),
    (6, 3) ->
      ("5,1,44,0.537027 5,2,186,0.484418 5,3,267,0.386713 5,4,54,0.380889 " +
        "18,1,294,0.428232 18,2,99,0.351204 18,3,237,0.334027 18,4,71,0.330958 " +
        "27,1,0,0.220569 27,2,100,0.220569 27,3,200,0.220569 27,4,196,0.101653 " +
        "104,1,0,0.419945 104,2,100,0.419945 104,3,200,0.419945 104,4,196,0.371868 " +
        "272,1,193,0.477428 272,2,87,0.363154 272,3,2,0.336507 272,4,102,0.336507 " +
        "291,1,291,1.0 291,2,42,0.676716 291,3,70,0.612728 291,4,2,0.596968"))

  for (((hops, beamWidth), want) <- expected.toSeq.sorted)
    test(s"post-insert walk with tied cosines, hops=$hops beamWidth=$beamWidth: " +
        "the per-hop walk's rows") {
      assert(search(hops, beamWidth) === want.split(" ").toSeq)
    }

  /** Five centroids in three cells, no insert: cell 0 holds centroids 0,
    * 3 and 4 (radius 3.13), cells 1 and 2 hold one centroid each (radius
    * 0). Every query below routes to cell 0 first, with a lower bound
    * above 0 for most of them.
    */
  private lazy val fiveCentroids: Seq[(Long, Seq[Double])] =
    emb.where(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toIndexedSeq
  private lazy val threeCells: Similarity.HierIndex = {
    val dir = java.nio.file.Files.createTempDirectory("graft_beam_route").toString
    graft.Caches.scoped {
      Similarity.persistIndexHier(emb, "vec_id", "e", fiveCentroids,
        nCells = 3, graphK = 2, dir)
    }
    Similarity.loadIndexHier(spark, dir)
  }

  private def routed(index: Similarity.HierIndex, nProbe: Int): Seq[String] =
    Similarity.beamSearchKnnHier(emb, "vec_id", "e", index,
        col("vec_id").isin(5L, 18L, 27L, 104L, 150L, 233L, 272L, 291L), k = 3,
        nProbe = nProbe, beamWidth = 2, hops = 2)
      .collect().toSeq
      .map(r => s"${r.getLong(0)},${r.getInt(1)},${r.getLong(2)},${r.get(3)}")

  // (query_id, rn, vec_id, cos) rows of the window/aggregate routing chain
  // (pass-1 window, UB aggregate, pass-2 join and window) that in-row
  // routing replaced; nProbe 5 and 7 admit every centroid
  private val allEntries =
    "5,1,44,0.537027 5,2,186,0.484418 5,3,230,0.41204 " +
      "18,1,134,0.528469 18,2,234,0.41175 18,3,4,0.382579 " +
      "27,1,291,0.48181 27,2,42,0.473332 27,3,0,0.220569 " +
      "104,1,4,1.0 104,2,104,1.0 104,3,204,1.0 " +
      "150,1,150,1.0 150,2,195,0.525385 150,3,80,0.469097 " +
      "233,1,92,0.489501 233,2,1,0.430992 233,3,101,0.430992 " +
      "272,1,272,1.0 272,2,234,0.700816 272,3,4,0.605914 " +
      "291,1,291,1.0 291,2,42,0.676716 291,3,70,0.612728"
  private val routedExpected: Seq[(Int, String, String)] = Seq(
    (3, "the best cell holds exactly nProbe members",
      "5,1,44,0.537027 5,2,186,0.484418 5,3,230,0.41204 " +
        "18,1,134,0.528469 18,2,234,0.41175 18,3,4,0.382579 " +
        "27,1,291,0.48181 27,2,42,0.473332 27,3,0,0.220569 " +
        "104,1,4,1.0 104,2,104,1.0 104,3,204,1.0 " +
        "150,1,150,1.0 150,2,195,0.525385 150,3,80,0.469097 " +
        "233,1,1,0.430992 233,2,101,0.430992 233,3,201,0.430992 " +
        "272,1,272,1.0 272,2,234,0.700816 272,3,4,0.605914 " +
        "291,1,291,1.0 291,2,42,0.676716 291,3,70,0.612728"),
    (4, "the best cell holds fewer than nProbe members (UB = +inf)",
      "5,1,44,0.537027 5,2,186,0.484418 5,3,230,0.41204 " +
        "18,1,134,0.528469 18,2,234,0.41175 18,3,4,0.382579 " +
        "27,1,291,0.48181 27,2,42,0.473332 27,3,0,0.220569 " +
        "104,1,4,1.0 104,2,104,1.0 104,3,204,1.0 " +
        "150,1,150,1.0 150,2,195,0.525385 150,3,80,0.469097 " +
        "233,1,1,0.430992 233,2,101,0.430992 233,3,201,0.430992 " +
        "272,1,272,1.0 272,2,234,0.700816 272,3,4,0.605914 " +
        "291,1,291,1.0 291,2,42,0.676716 291,3,70,0.612728"),
    (5, "nProbe equals the centroid count", allEntries),
    (7, "nProbe exceeds the centroid count", allEntries))

  for ((nProbe, what, want) <- routedExpected)
    test(s"routing, nProbe=$nProbe, $what: the chain's rows, equal to the flat index") {
      val got = routed(threeCells, nProbe)
      assert(got === want.split(" ").toSeq)
      // exact bound routing: the entries are the flat (d2, cid) top-nProbe
      assert(got === routed(
        Similarity.indexFlat(emb, "vec_id", "e", fiveCentroids, graphK = 2), nProbe))
    }

  test("a search runs as many jobs with 6 hops as with 1") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    index // built and loaded before counting
    def jobsOf(hops: Int): Int = {
      GraftListenerBus.drain(sc)
      jobs.set(0)
      assert(search(hops, beamWidth = 3).nonEmpty)
      GraftListenerBus.drain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    val (one, six) =
      try (jobsOf(1), jobsOf(6)) finally sc.removeSparkListener(listener)
    assert(one > 0 && one === six, s"jobs: hops=1 $one, hops=6 $six")
  }

  test("round6 is Spark's round(x, 6) on doubles") {
    val xs = Seq(0.1234565, -0.1234565, 0.9999995, 2.5e-7, -2.5e-7,
      123456.7890125, 1e300, -1e-300, Double.MinPositiveValue, 0.0, -0.0,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val spark6 = spark.range(1).select(xs.map(x => round(lit(x), 6)): _*)
      .head().toSeq.map(_.asInstanceOf[Double])
    xs.zip(spark6).foreach { case (x, want) =>
      val got = graft.functions.round6(x)
      assert(java.lang.Double.compare(got, want) === 0, s"round6($x) = $got, Spark $want")
    }
  }
}
