package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r18: two-level (hierarchical) centroid routing with exact
  * triangle-inequality bounds — the persisted-index serve path whose
  * driver collect is bounded by the CELL count, and whose entry set
  * provably equals the flat ranking's (recall identical by
  * construction, pruning real).
  */
class HierAnnSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft_hier_ann").toString

  // deterministic synthetic embeddings: 3 well-separated lobes in 8-dim
  // space, so cell bounds genuinely exclude far lobes
  private def emb = spark.range(300).select(col("id").as("vec_id"),
    transform(sequence(lit(0), lit(7)), j =>
      when(j === (col("id") % 3).cast("int"), lit(10.0))
        .otherwise(lit(0.0)) +
        sin(col("id") * (j + lit(1))) * lit(0.3)).as("e"))

  private def cents = emb
    .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    .limit(8).collect()
    .map(r => (r.getLong(0), r.getSeq[Double](1))).toIndexedSeq

  private def rows(dir: String, sub: String): Set[String] =
    spark.read.format("graft-avro").load(s"$dir/$sub")
      .collect().map(_.toString).toSet

  /** relative path -> md5 of every file under `dir` */
  private def treeSums(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map { f =>
          root.relativize(f).toString ->
            java.security.MessageDigest.getInstance("MD5")
              .digest(java.nio.file.Files.readAllBytes(f))
              .map("%02x".format(_)).mkString
        }.toMap
    } finally files.close()
  }

  test("incremental insert equals a full rebuild; untouched clusters stay byte-identical") {
    val ixDir = tempDir()
    val cs = cents // md5-leading 8 of the FULL corpus: fixed literals
    // the batch lives in ONE lobe (vec_id % 3 == 0), so it assigns to
    // a strict subset of the clusters — the untouched rest must stay
    // byte-identical on disk
    val isBatch = col("vec_id") >= 240 && col("vec_id") % 3 === 0
    val base = emb.where(!isBatch)
    val batch = emb.where(isBatch)
    graft.Caches.scoped(Similarity.persistIndexHier(base, "vec_id", "e", cs,
      nCells = 4, graphK = 6, ixDir))
    // per-cluster-directory md5s BEFORE the insert
    def dirSums(sub: String): Map[String, String] = {
      val root = new java.io.File(s"$ixDir/$sub")
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cid="))
        .flatMap(d => d.listFiles().filter(f =>
          f.isFile && f.getName.endsWith(".avro")).map { f =>
            val bytes = java.nio.file.Files.readAllBytes(f.toPath)
            s"${d.getName}/${f.getName}" ->
              java.security.MessageDigest.getInstance("MD5").digest(bytes)
                .map("%02x".format(_)).mkString
        }).toMap
    }
    val beforeGraph = dirSums("graph")
    val beforeEdges = dirSums("edges")
    val beforeCells = java.nio.file.Files.readAllBytes(
      new java.io.File(s"$ixDir/cells").listFiles()
        .filter(_.getName.endsWith(".avro")).head.toPath).toSeq
    graft.Caches.scoped(
      Similarity.insertIndexHier(base, batch, "vec_id", "e", graphK = 6, ixDir))
    // the routing layer is untouched by construction
    assert(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$ixDir/cells").listFiles()
        .filter(_.getName.endsWith(".avro")).head.toPath).toSeq
      === beforeCells)
    // untouched clusters' graph/edges files byte-identical
    val touched = spark.read.format("graft-avro").load(s"$ixDir/assign")
      .where(col("id") >= 240 && col("id") % 3 === 0)
      .select("cid").distinct()
      .collect().map(r => s"cid=${r.getLong(0)}").toSet
    assert(touched.nonEmpty && touched.size < 8,
      s"the batch should touch a strict subset of clusters: $touched")
    val afterGraph = dirSums("graph")
    val afterEdges = dirSums("edges")
    beforeGraph.filterNot(e => touched.exists(e._1.startsWith))
      .foreach { case (f, h) =>
        assert(afterGraph.get(f).contains(h),
          s"untouched cluster file must stay byte-identical: graph/$f")
      }
    beforeEdges.filterNot(e => touched.exists(e._1.startsWith))
      .foreach { case (f, h) =>
        assert(afterEdges.get(f).contains(h),
          s"untouched cluster file must stay byte-identical: edges/$f")
      }
    // rebuild-equivalence: the updated artifact equals a fresh build
    // over base ∪ batch, table for table
    val rebuildDir = tempDir()
    graft.Caches.scoped(Similarity.persistIndexHier(emb, "vec_id", "e", cs,
      nCells = 4, graphK = 6, rebuildDir))
    for (sub <- Seq("assign", "graph", "edges"))
      assert(rows(ixDir, sub) === rows(rebuildDir, sub),
        s"insert path must equal the rebuild for $sub")
    // and therefore the SEARCH over the inserted artifact is the
    // rebuild's search
    val ixIns = Similarity.loadIndexHier(spark, ixDir)
    val a = graft.Caches.scoped(Similarity.beamSearchKnnHier(emb, "vec_id",
        "e", ixIns, col("vec_id") < 6, k = 8, nProbe = 3, beamWidth = 4,
        hops = 4)
      .collect().map(_.toString).toSeq)
    val ixReb = Similarity.loadIndexHier(spark, rebuildDir)
    val b = Similarity.beamSearchKnnHier(emb, "vec_id", "e", ixReb,
        col("vec_id") < 6, k = 8, nProbe = 3, beamWidth = 4, hops = 4)
      .collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("bound-routed search returns EXACTLY the flat search's results") {
    val ixDir = tempDir()
    val cs = cents
    val hier = graft.Caches.scoped {
      Similarity.persistIndexHier(emb, "vec_id", "e", cs, nCells = 4,
        graphK = 6, ixDir)
      val ix = Similarity.loadIndexHier(spark, ixDir)
      Similarity.beamSearchKnnHier(emb, "vec_id", "e", ix,
          col("vec_id") < 6, k = 8, nProbe = 3, beamWidth = 4, hops = 4)
        .collect().map(_.toString).toSeq
    }
    val flat = Similarity.beamSearchKnn(emb, "vec_id", "e", cs,
        col("vec_id") < 6, k = 8, beamWidth = 4, hops = 4, graphK = 6,
        nProbe = 3)
      .collect().map(_.toString).toSeq
    assert(hier === flat,
      "the triangle-inequality bound must reproduce the flat entry set, " +
        "hence the identical walk and results")
  }

  test("routing genuinely prunes cells (driver replication of the bounds)") {
    val cs = cents
    val (cells, assign) = Similarity.cellAssignOf(cs, 4)
    assert(cells.size === 4 && assign.size === cs.size)
    // radius is max leader->member distance; the leader itself is a
    // member of its own cell (distance 0), so radius >= 0 always
    assert(cells.forall(_._3 >= 0.0))
    def d(a: Seq[Double], b: Seq[Double]): Double =
      math.sqrt(math.max(0.0,
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum))
    // replicate lb/ub for every corpus query: at least one query must
    // skip at least one cell, or the "routing" ranks everything
    val qs = emb.where(col("vec_id") < 6).collect()
      .map(r => r.getSeq[Double](1))
    val nProbe = 3
    val prunes = qs.map { qv =>
      val lbs = cells.map { case (cell, clv, r) =>
        (math.max(0.0, d(qv, clv) - r), cell)
      }.sorted
      val p1members = cs.filter(c => assign(c._1) == lbs.head._2)
      val dists = p1members.map(c => d(qv, c._2)).sorted
      val ub = if (dists.size >= nProbe) dists(nProbe - 1)
        else Double.PositiveInfinity
      lbs.count(_._1 > ub) // cells the bound excludes
    }
    assert(prunes.exists(_ > 0),
      s"expected at least one query to prune a cell; prune counts: " +
        s"${prunes.mkString(",")}")
  }

  test("recall audit equals the flat audit number for number") {
    val ixDir = tempDir()
    val cs = cents
    val hier = graft.Caches.scoped {
      Similarity.persistIndexHier(emb, "vec_id", "e", cs, nCells = 4,
        graphK = 6, ixDir)
      val ix = Similarity.loadIndexHier(spark, ixDir)
      Similarity.beamRecallAuditHier(emb, "vec_id", "e", ix,
          col("vec_id") < 6, k = 8, nProbe = 3, beamWidth = 4, hops = 4)
        .orderBy("query_id").collect().map(_.toString).toSeq
    }
    val flat = Similarity.beamRecallAudit(emb, "vec_id", "e", cs,
        col("vec_id") < 6, k = 8, beamWidth = 4, hops = 4, graphK = 6,
        nProbe = 3)
      .orderBy("query_id").collect().map(_.toString).toSeq
    assert(hier === flat)
  }

  test("copy-then-insert (copyFrom) into a fresh dir equals the rebuild; the source stays untouched") {
    val cs = cents
    val isBatch = col("vec_id") >= 240 && col("vec_id") % 3 === 0
    val base = emb.where(!isBatch)
    val batch = emb.where(isBatch)
    val baseDir = tempDir()
    val rebuildDir = tempDir()
    graft.Caches.scoped {
      Similarity.persistIndexHier(base, "vec_id", "e", cs, nCells = 4,
        graphK = 6, baseDir)
      Similarity.persistIndexHier(emb, "vec_id", "e", cs, nCells = 4,
        graphK = 6, rebuildDir)
    }
    val baseBefore = treeSums(baseDir)
    val work = s"${tempDir()}/work" // does not exist yet
    graft.Caches.scoped(Similarity.insertIndexHier(base, batch, "vec_id",
      "e", graphK = 6, work, copyFrom = Some(baseDir)))
    for (sub <- Seq("assign", "graph", "edges"))
      assert(rows(work, sub) === rows(rebuildDir, sub),
        s"copy-then-insert must equal the rebuild for $sub")
    assert(treeSums(baseDir) === baseBefore,
      "copyFrom must not be mutated by the insert")
  }

  test("an empty batch with copyFrom still leaves a complete copy of the source") {
    val baseDir = tempDir()
    graft.Caches.scoped(Similarity.persistIndexHier(emb, "vec_id", "e",
      cents, nCells = 4, graphK = 6, baseDir))
    val work = s"${tempDir()}/work"
    graft.Caches.scoped(Similarity.insertIndexHier(emb, emb.where(lit(false)),
      "vec_id", "e", graphK = 6, work, copyFrom = Some(baseDir)))
    val want = treeSums(baseDir)
    assert(want.keys.exists(_.endsWith(".avro")))
    assert(treeSums(work) === want,
      "the no-op insert must return only after the copy has finished")
  }
}
