package graft.ext

import graft.functions.{CosineSimilarity, VectorOps, round6}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) — north-star
  * extension.
  *
  * Two tiers, as an LLM data pipeline needs:
  *  - brute-force cosine top-k: exact; Spark plans `orderBy(desc).limit(k)`
  *    as TakeOrderedAndProject (per-partition heap + driver merge of k rows,
  *    NO global sort shuffle) — the correct baseline even at scale when k is
  *    small;
  *  - random-hyperplane LSH bucketing: deterministic ±1 hyperplanes derived
  *    from md5 (no RNG, engine-portable), giving 2^planes buckets. Candidate
  *    generation is an equi-join on the bucket id — never a cross join.
  */
object Similarity {

  /** Deterministic ±1 hyperplane component for (plane, dim): parity of the
    * first hex digit of md5("plane:dim"). Pure function of its arguments —
    * every run, every engine, same planes.
    */
  def planeSign(plane: Int, dim: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$plane:$dim".getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1 else -1
  }

  /** The ±1.0 sign vector of one hyperplane. */
  def planeVector(plane: Int, dims: Int): Seq[Double] =
    (0 until dims).map(d => planeSign(plane, d).toDouble)

  /** LSH bucket id: bit j set iff dot(v, plane_j) > 0. Narrow projection —
    * computable at the scan, no shuffle.
    */
  def bucketExpr(vec: Column, planes: Int, dims: Int): Column =
    (0 until planes).map { j =>
      val plane = typedLit(planeVector(j, dims))
      // native graft_dot: same left-to-right double accumulation as the
      // zip_with/aggregate formulation, but runs inside whole-stage codegen
      // instead of interpreted lambdas — the bucket id is computed per row
      // at the scan, so this sits on the hot path of every LSH op.
      when(VectorOps.dotNative(vec, plane) > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Int8 quantization of an embedding column — the storage/bandwidth tier
    * for corpus-scale ANN (4× smaller than float32; distance on codes is
    * within ~1% of exact for unit-ish vectors). Per-VECTOR affine map:
    * code = min(255, floor((v - lo) * 255 / (hi - lo))), lo/hi = that
    * vector's min/max (a degenerate constant vector maps to all-zeros).
    * floor (not round) keeps the arithmetic bit-identical across engines.
    * Everything is array expressions — computable at the scan, no shuffle.
    * Output: id, lo, hi, codes array<int>.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    // STAGED projection: lo/hi must be scalar columns BEFORE the transform
    // lambda references them. Higher-order functions are interpreted (no
    // whole-stage codegen), so an array_min inlined inside the lambda is
    // re-scanned per ELEMENT — O(dims²) interpreted work per row, measured
    // 25× slower on 64-dim vectors. lo/hi are non-cheap and referenced
    // multiple times, so CollapseProject keeps this boundary.
    val staged = df.select(col(idCol).as("id"), v.as("__v"),
      array_min(v).cast("double").as("__lo"), array_max(v).cast("double").as("__hi"))
    val lo = col("__lo")
    val hi = col("__hi")
    staged.select(col("id"),
      round(lo, 6).as("lo"), round(hi, 6).as("hi"),
      when(hi === lo, transform(col("__v"), _ => lit(0)))
        .otherwise(transform(col("__v"), x =>
          least(lit(255), floor((x.cast("double") - lo) * 255.0 / (hi - lo)).cast("int"))))
        .as("codes"))
  }

  /** L2 normalization of an embedding column: v / ||v||, zero vectors pass
    * through unchanged. The standard pre-step before cosine similarity
    * collapses to a dot product (normalize once at ingest, score with the
    * cheap dot everywhere after). The norm is STAGED as a scalar column
    * before the transform lambda references it — HOFs are interpreted, so
    * an inlined aggregate would re-scan the array per element (the
    * quantizeInt8 lesson). Narrow projection: runs at the scan, no shuffle.
    */
  def l2Normalize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val staged = df.select(col(idCol).as("id"), v.as("__v"),
      VectorOps.norm(v).as("__norm"))
    staged.select(col("id"),
      when(col("__norm") === 0.0, transform(col("__v"), x => x.cast("double")))
        .otherwise(transform(col("__v"), x => x.cast("double") / col("__norm")))
        .as("unit"))
  }

  /** Per-label mean embedding (centroids) — the k-means / IVF / class-
    * prototype building block. Long-form shape: posexplode to
    * (label, pos, component), ONE hash aggregate keyed by (label, pos) —
    * map-side combinable, shuffle carries dims × labels partial sums, not
    * vectors. The wide-form alternative (aggregate arrays elementwise)
    * holds whole vectors in agg buffers; long form keeps rows scalar and
    * codegen-friendly.
    */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).as("pos")) // 1-based like SQL subscripts
      .agg(round(avg(col("v")), 6).as("mean_v"))
      .orderBy("label", "pos")

  /** Exact cosine top-k against one query vector (given as a literal —
    * e.g. the embedding of a probe document), scored by the native
    * `graft_cos` expression (GraftExtensions must be registered).
    * TakeOrderedAndProject plan: each partition keeps a k-heap, driver
    * merges k*numPartitions rows.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol).as("id"),
      round(VectorOps.cosineNative(col(vecCol), q), 6).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Maximal Marginal Relevance selection: greedily pick `k` documents
    * maximizing λ·sim(doc, query) − (1−λ)·max_selected sim(doc, s) — the
    * standard diversity-aware retrieval/curation selector (Carbonell &
    * Goldstein '98): near-duplicates of an already-selected result are
    * penalized out even when they score high against the query.
    *
    * Scale shape: the DISTRIBUTED relevance top-`candidatePool` (the
    * TakeOrderedAndProject heap plan of [[bruteForceTopK]], plus the
    * vectors fetched by a semi-join on the winning ids) bounds what ever
    * reaches the driver; the O(k·pool) greedy then runs on ≤ ~1k small
    * vectors — a bounded decision-point collect, never a corpus
    * iteration. Returns (rank, id, relevance, mmr_score).
    */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, lambda: Double = 0.7,
      candidatePool: Int = 200): DataFrame = {
    require(k >= 1 && candidatePool >= k, s"need candidatePool >= k >= 1, got k=$k pool=$candidatePool")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = df.sparkSession
    val top = bruteForceTopK(df, idCol, vecCol, query, candidatePool)
    val cands = df
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .join(top.select("id", "cos"), Seq("id"))
      .collect() // bounded: ≤ candidatePool rows
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val remaining = scala.collection.mutable.LinkedHashMap(
      cands.sortBy { case (id, _, rel) => (-rel, id) }.map(c => c._1 -> c): _*)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      val best = remaining.values.map { case (id, v, rel) =>
        val maxSim = if (chosen.isEmpty) 0.0 else chosen.map(cosine(v, _)).max
        (id, v, rel, lambda * rel - (1.0 - lambda) * maxSim)
      }.reduceLeft { (a, b) =>
        if (b._4 > a._4 || (b._4 == a._4 && b._1 < a._1)) b else a
      }
      picked += ((rank, best._1, best._3, best._4))
      chosen += best._2
      remaining.remove(best._1)
      rank += 1
    }
    spark.createDataFrame(picked.toSeq)
      .toDF("rank", "id", "relevance", "mmr_score")
  }

  /** Squared L2 distance as dot(a,a) − 2·dot(a,c) + dot(c,c): every
    * accumulation runs through the native left-to-right dot kernel an
    * external oracle replays (`list_dot_product`). The operand order is
    * part of that contract — reordering changes the last ulp.
    */
  private def d2(a: Column, c: Column): Column =
    VectorOps.dotNative(a, a) - lit(2.0) * VectorOps.dotNative(a, c) +
      VectorOps.dotNative(c, c)

  /** The driver-side twin of [[d2]], same accumulation order. */
  private def d2Seq(a: Seq[Double], c: Seq[Double]): Double =
    dotSeq(a, a) - 2.0 * dotSeq(a, c) + dotSeq(c, c)

  /** One (d2, cid) struct per centroid literal, in centroid order. */
  private def centroidD2s(v: Column,
      cents: Seq[(Long, Seq[Double])]): Column =
    array(cents.map { case (cid, cv) =>
      struct(d2(v, typedLit(cv)).as("d2"), lit(cid).as("cid"))
    }: _*)

  /** The (d2, cid) struct of the centroid nearest `v`: lexicographic
    * struct-min, so ties break to the smaller centroid id.
    */
  private def nearestCentroid(v: Column,
      cents: Seq[(Long, Seq[Double])]): Column =
    array_min(centroidD2s(v, cents))

  /** Deterministic IVF-style assignment to FIXED centroid vectors: each
    * row goes to its nearest centroid by squared L2 distance ([[d2]]) —
    * unlike k-means-derived centroids, hash-selected fixed centroids
    * make the whole IVF partitioning step oracle-checkable. Ties break
    * to the smaller centroid id. Scan-local (centroids are literals — no
    * join, no shuffle); `+ 0.0` normalizes a possible IEEE −0.0 from the
    * subtractive formula on near-identical vectors.
    * Output: (id, cluster_id, dist2).
    */
  def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val best = nearestCentroid(VectorOps.toDouble(col(vecCol)), centroids)
    df.select(col(idCol).as("id"),
      best.getField("cid").as("cluster_id"),
      (round(best.getField("d2"), 6) + lit(0.0)).as("dist2"))
  }

  /** Product-quantization code assignment against a FIXED codebook: the
    * vector is cut into `nSub` contiguous subspaces and each slice is
    * assigned to its nearest codeword (squared L2, same subtractive
    * dot-product kernel as [[assignToCentroids]], ties to the smaller
    * codeword id). The codebook holds FULL-dimension vectors; subspace m
    * uses their m-th slice — so 8 codewords over 4 subspaces give 8^4
    * addressable cells from one tiny table. PQ is the memory side of
    * 100-TB ANN: 64 floats (256 B) compress to `nSub` small ints, and
    * assignment stays scan-local (codeword slices are literals — no
    * join, no shuffle). Output: (id, code_0 … code_{nSub-1}).
    */
  def pqAssign(df: DataFrame, idCol: String, vecCol: String,
      codebook: Seq[(Long, Seq[Double])], nSub: Int): DataFrame = {
    require(codebook.nonEmpty, "need at least one codeword")
    val dim = codebook.head._2.length
    require(nSub > 0 && dim % nSub == 0,
      s"dim $dim must divide into $nSub subspaces")
    val sd = dim / nSub
    val e = VectorOps.toDouble(col(vecCol))
    val codes = (0 until nSub).map { m =>
      val sub = slice(e, m * sd + 1, sd)
      val entries = codebook.map { case (cid, cv) =>
        struct(d2(sub, typedLit(cv.slice(m * sd, (m + 1) * sd))).as("d2"),
          lit(cid).as("cid"))
      }
      array_min(array(entries: _*)).getField("cid").as(s"code_$m")
    }
    df.select(col(idCol).as("id") +: codes: _*)
  }

  /** Deterministic Lloyd k-means: starting from FIXED initial centroids,
    * run `iters` assign/update rounds and return the final assignment
    * (id, cluster_id, dist2). Every step is reproducible by an external
    * SQL oracle:
    *   - assignment is [[assignToCentroids]]'s subtractive-L2 argmin with
    *     ties to the smaller centroid id;
    *   - the centroid update is a per-dimension double mean — the same
    *     determinism contract as [[centroids]]: cross-engine sum-order
    *     noise is ~1e-13, absorbed by the round-6 output and by argmin
    *     gaps that are many orders larger for real embeddings (a DECIMAL
    *     cast would be WORSE here: floats below 2^-6 need >30 fractional
    *     digits, so DECIMAL(38,30) rounds and can land on half-ties);
    *   - a cluster that loses all members keeps its previous centroid.
    *
    * Scale shape: each round is one scan-local assignment (centroid
    * literals — no join) + one map-side-combinable groupBy over k·dim
    * cells; the k·dim driver collect per round is the same decision-point
    * pattern as the reference's sklearn fit (SURVEY §2 M-row contract).
    */
  def kmeansIterate(df: DataFrame, idCol: String, vecCol: String,
      init: Seq[(Long, Seq[Double])], iters: Int): DataFrame = {
    require(init.nonEmpty && iters >= 0, "need centroids and iters >= 0")
    val dim = init.head._2.length
    val e = VectorOps.toDouble(col(vecCol))
    var cents = init
    for (_ <- 0 until iters) {
      val sums = df
        .select(nearestCentroid(e, cents).getField("cid").as("cid"),
          posexplode(e).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .collect()
      val byCluster = sums.groupBy(_.getLong(0)).map { case (cid, rows) =>
        val vec = new Array[Double](dim)
        var n = 0L
        rows.foreach { r =>
          vec(r.getInt(1)) = r.getDouble(2); n = r.getLong(3)
        }
        cid -> vec.map(_ / n).toSeq
      }
      cents = cents.map { case (cid, old) => (cid, byCluster.getOrElse(cid, old)) }
    }
    val best = nearestCentroid(e, cents)
    df.select(col(idCol).as("id"), best.getField("cid").as("cluster_id"),
      (round(best.getField("d2"), 6) + lit(0.0)).as("dist2"))
  }

  /** ANN variant: same query, but only candidates in the query's LSH bucket
    * are scored. At 1000 executors the bucket filter is a pushed-down
    * predicate on a precomputed bucket column (see `withBucket`), so the
    * scan prunes ~ (1 - 2^-planes) of the corpus.
    */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, planes: Int): DataFrame = {
    val dims = query.size
    val qBucket = (0 until planes).map { j =>
      val dot = planeVector(j, dims).zip(query).map { case (a, b) => a * b }.sum
      if (dot > 0.0) 1L << j else 0L
    }.sum
    df.where(bucketExpr(col(vecCol), planes, dims) === lit(qBucket))
      .select(col(idCol).as("id"),
        round(VectorOps.cosineNative(col(vecCol), typedLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Precompute the bucket column (e.g. at ingest, then partition/bucket the
    * table by it so every ANN probe touches one bucket's files only).
    */
  def withBucket(df: DataFrame, vecCol: String, planes: Int, dims: Int): DataFrame =
    df.withColumn("lsh_bucket", bucketExpr(col(vecCol), planes, dims))

  /** All near-duplicate embedding pairs: equi-join on the LSH bucket, then
    * exact cosine filter. (id_a < id_b) one row per pair. This is the
    * embedding-cosine near-dup dedup path: shuffle is keyed by bucket id,
    * bucket population ~ n / 2^planes keeps the per-bucket quadratic term
    * bounded; increase `planes` as the corpus grows.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, dims: Int, minCosine: Double): DataFrame = {
    val b = withBucket(df, vecCol, planes, dims)
    val l = b.select(col("lsh_bucket"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val r = b.select(col("lsh_bucket"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
    l.join(r, "lsh_bucket")
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", round(VectorOps.cosineNative(col("v_a"), col("v_b")), 6))
      .where(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv 2303.09540):
    * semantic-duplicate GROUPS over an embedding column. The published
    * recipe: k-means-cluster the embeddings, compare pairs only WITHIN a
    * cluster (semantic duplicates land in the same cluster by
    * construction), connect pairs whose cosine exceeds `tau`, keep one
    * representative per connected group.
    *
    * Scale shape — this is the entire point of the method: the pair join
    * is an equi-join on `cluster_id`, so the quadratic term is bounded by
    * the largest CLUSTER, never the corpus (raise k as the corpus grows —
    * the paper runs k=110k over 5B embeddings); cosine is the fused
    * native `graft_cos` kernel inside the join projection; grouping
    * reuses [[Dedup.clusterNearDups]] (label propagation / bounded
    * union-find — transitivity matters: A~B and B~C must not keep both B
    * and C when A is kept).
    *
    * Determinism: `centroids` are caller-fixed (the md5-order device of
    * the IVF queries), assignment ties break to the smaller centroid id
    * via [[assignToCentroids]], group label = min member id. The oracle
    * replays assignment, pair generation, and the transitive closure in
    * SQL.
    *
    * @return (id, group_id, keep) — one row per input vector; `keep` = 1
    *         on the group's min id (singletons trivially keep)
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])], tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau in (0,1], got $tau")
    val vecs = df.select(col(idCol).as("id"),
      VectorOps.toDouble(col(vecCol)).as("__v"))
    val assigned = assignToCentroids(df, idCol, vecCol, centroids)
      .select(col("id"), col("cluster_id"))
    val w = graft.Caches.register(vecs.join(assigned, Seq("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pairs = w.select(col("cluster_id"), col("id").as("id_a"), col("__v").as("__va"))
      .join(w.select(col("cluster_id"), col("id").as("id_b"), col("__v").as("__vb")),
        Seq("cluster_id"))
      .where(col("id_a") < col("id_b") &&
        VectorOps.cosineNative(col("__va"), col("__vb")) >= tau)
      .select(col("id_a"), col("id_b"))
    graft.ext.Dedup.clusterNearDups(pairs, df.select(col(idCol).as("id")), "id")
      .select(col("id"), col("cluster_id").as("group_id"),
        when(col("id") === col("cluster_id"), 1).otherwise(0).as("keep"))
  }

  /** The full IVF ANN QUERY against FIXED centroids, end-to-end
    * oracle-checkable (fixed centroids, unlike an RNG-seeded k-means
    * index): every row is assigned to its nearest centroid with
    * [[assignToCentroids]]'s subtractive-L2 argmin (ties to the smaller
    * centroid id), the `nProbe` centroids nearest the query are ranked
    * driver-side (centroid lists are tiny by construction), and only rows
    * in probed clusters are cosine-scored for the top-k.
    *
    * Scale shape: assignment is scan-local
    * (centroid literals, no join); at ingest the cluster id becomes the
    * table's partition column so a probe prunes ~(1 − nProbe/k) of the
    * FILES, not just rows. Here assignment is computed inline, which is
    * the one-shot query cost; the ranking is a TakeOrderedAndProject
    * (no global sort).
    *
    * Determinism contract (same as [[kmeansIterate]]): probe RANKING only
    * needs ordering, and centroid-to-query distance gaps for real
    * embeddings are many orders above cross-engine sum noise; per-row
    * argmin equality is the proven `q_sim_ivf_assign` contract.
    */
  def ivfTopKFixed(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])], query: Seq[Double],
      k: Int, nProbe: Int): DataFrame = {
    require(centroids.nonEmpty && nProbe > 0, "need centroids and nProbe > 0")
    val cluster = nearestCentroid(VectorOps.toDouble(col(vecCol)), centroids)
      .getField("cid")
    // probe ranking uses the SAME expanded-dot arithmetic as the per-row
    // assignment and the oracle's list_dot_product — the direct Σ(a−b)²
    // form differs in the last ulp and could order near-tied centroids
    // differently at the nProbe boundary; ties break by centroid id like
    // the oracle
    val probes = centroids.map { case (cid, cv) => (d2Seq(query, cv), cid) }
      .sorted.take(nProbe).map(_._2)
    df.where(cluster.isin(probes: _*))
      .select(col(idCol).as("id"),
        round(VectorOps.cosineNative(col(vecCol), typedLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** IVF ANN recall audit: recall@k of the IVF probe path against the
    * exact brute-force top-k, per query — the quality gate you run on a
    * QUERY SAMPLE before trusting an approximate index at corpus scale
    * (the embedding-side twin of `q_dedup_lsh_recall`). Both ranked
    * lists come from the same round-6 cosine and (cos desc, id)
    * tie-break, so a miss is a genuine probe miss, never a tie artifact.
    *
    * Scale shape: the query sample broadcasts; the exact baseline is the
    * audit's deliberate cost (|queries|·|corpus| fused `graft_cos` with
    * a per-query heap — you size the sample, not the corpus); the IVF
    * side touches only rows whose cluster is among the query's `nProbe`
    * probes (at ingest the cluster id is the partition column, so this
    * prunes files). Probe ranking per query is the same expanded-dot
    * struct-sort DAG as [[ivfTopKFixed]].
    *
    * @return (query_id, n_hits, recall) — recall = |IVF∩exact| / k
    */
  def ivfRecallAudit(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])], queryPred: Column,
      k: Int, nProbe: Int): DataFrame = {
    require(centroids.nonEmpty && k > 0 && nProbe > 0,
      "need centroids, k > 0, nProbe > 0")
    import org.apache.spark.sql.expressions.Window
    val ev = VectorOps.toDouble(col(vecCol))
    val corpus = df.select(col(idCol).as("id"), ev.as("v"))
      .withColumn("cluster",
        nearestCentroid(col("v"), centroids).getField("cid"))
    val queries = df.where(queryPred).select(col(idCol).as("qid"), ev.as("qv"))
      .withColumn("probes", transform(
        slice(array_sort(centroidD2s(col("qv"), centroids)), 1, nProbe),
        s => s.getField("cid")))
    val wq = Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))
    val ivfTop = corpus
      .join(broadcast(queries), array_contains(col("probes"), col("cluster")))
      .select(col("qid"), col("id"),
        round(VectorOps.cosineNative(col("v"), col("qv")), 6).as("cos"))
      .withColumn("rn", row_number().over(wq)).where(col("rn") <= k)
      .select("qid", "id")
    recallVsExact(corpus, queries.select("qid", "qv"), ivfTop, k)
  }

  /** Recall@k of an approximate top-k against the exact brute-force
    * top-k — the one harness every ANN audit reports through. Both
    * rankings use the round-6 cosine with (cos desc, id) ties, so a miss
    * is a genuine approximate-path miss, never a tie artifact. The
    * exact side is the audit's deliberate cost: the query sample
    * broadcasts across |queries|·|corpus| fused `graft_cos` scores with
    * a per-query heap. `corpus` = (id, v), `queries` = (qid, qv),
    * `annTop` = the approximate path's top-k as (qid, id).
    *
    * @return (query_id, n_hits, recall) — recall = |ann∩exact| / k
    */
  private def recallVsExact(corpus: DataFrame, queries: DataFrame,
      annTop: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))
    val exactTop = corpus.crossJoin(broadcast(queries))
      .select(col("qid"), col("id"),
        round(VectorOps.cosineNative(col("v"), col("qv")), 6).as("cos"))
      .withColumn("rn", row_number().over(wq)).where(col("rn") <= k)
      .select("qid", "id")
    // bounded by queries × k: broadcast by hint, as in routedBeamWalk
    exactTop.join(broadcast(annTop.select(col("qid"), col("id"),
        lit(1).as("__hit"))), Seq("qid", "id"), "left")
      .groupBy(col("qid").as("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 6).as("recall"))
  }

  /** Embedding-space benchmark decontamination: for every corpus vector,
    * the max cosine to ANY eval/benchmark vector; rows reaching `tau`
    * are the semantic near-matches of benchmark items that exact and
    * n-gram decontamination (see `TextAnalysis.contaminatedDocs`) miss —
    * paraphrases, translations, light rewrites.
    *
    * Scale shape: the eval set is small by construction (benchmarks are
    * thousands of rows, the corpus is billions) — it broadcasts; the
    * corpus streams through the fused codegen'd `graft_cos` once per
    * eval row with a PARTIAL max per corpus id, so the one exchange
    * carries a single narrow (id, max) row per corpus row, never the
    * vectors. The flag threshold applies post-aggregate (a max can only
    * be known after all eval rows are seen).
    */
  def decontaminateSemantic(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, tau: Double,
      keepCols: Seq[String] = Nil): DataFrame = {
    val ev = broadcast(evalSet.select(col(vecCol).as("__graft_ev")))
    corpus.crossJoin(ev)
      .groupBy((idCol +: keepCols).map(col): _*)
      .agg(max(VectorOps.cosineNative(col(vecCol), col("__graft_ev")))
        .as("max_cos"))
      .where(col("max_cos") >= tau)
  }

  /** LSH-bucketed semantic decontamination — the scale path of
    * [[decontaminateSemantic]], whose exact scan is linear in the eval
    * set (corpus × evalN cosines). Corpus rows are scored only against
    * eval vectors sharing a hyperplane-LSH bucket, with multi-probe on
    * the eval side: every eval vector also lands in its `planes`
    * 1-bit-flip buckets (the standard recall lever — a near neighbor
    * just across one hyperplane is still found). The candidate set per
    * corpus row shrinks from evalN to ~ evalN·(planes+1)/2^planes; a
    * corpus row whose nearest eval vector differs in ≥2 hyperplane bits
    * is missed — the ANN recall trade. Flagged rows are always a SUBSET
    * of the exact path's (candidates are a subset, so max_cos can only
    * be ≤ the exact max), which keeps the conservative direction:
    * nothing is dropped from the corpus that the exact path would keep.
    *
    * Scale shape: bucket ids are narrow codegen'd projections at both
    * scans (no shuffle); the (planes+1)-exploded eval side stays
    * eval-sized and broadcasts; the bucket equi-join replaces the cross
    * join; the max aggregate is partial before its one exchange, so the
    * exchange carries one narrow (id, max) row per matched corpus row,
    * never the vectors.
    */
  def decontaminateSemanticLsh(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, tau: Double, planes: Int, dims: Int,
      keepCols: Seq[String] = Nil): DataFrame = {
    val evBucketed = evalSet
      .select(col(vecCol).as("__graft_ev"))
      .withColumn("__b0", bucketExpr(col("__graft_ev"), planes, dims))
    // probe buckets per eval vector: its own bucket + every 1-bit flip
    // (all distinct by construction — xor with distinct single bits)
    val probeCols = col("__b0") +:
      (0 until planes).map(j => col("__b0").bitwiseXOR(lit(1L << j)))
    val evProbes = evBucketed.select(col("__graft_ev"),
      explode(array(probeCols: _*)).as("__graft_bucket"))
    val corpusB = corpus
      .withColumn("__graft_bucket", bucketExpr(col(vecCol), planes, dims))
    corpusB.join(broadcast(evProbes), "__graft_bucket")
      .groupBy((idCol +: keepCols).map(col): _*)
      .agg(max(VectorOps.cosineNative(col(vecCol), col("__graft_ev")))
        .as("max_cos"))
      .where(col("max_cos") >= tau)
  }

  /** Contrastive pair mining for embedding training: for each anchor,
    * the `posK` most-similar SAME-label vectors (positives) and the
    * `negK` most-similar DIFFERENT-label vectors (HARD negatives — the
    * near-misses a contrastive loss learns the most from; cf. the
    * in-batch/hard-negative practice in SimCSE/DPR-style training).
    *
    * Candidate generation here is the exact broadcast-anchors × corpus
    * scan (one pass, native fused cosine, per-anchor heap via the
    * rank-k window) — correct and TakeOrdered-cheap when the anchor set
    * is a bounded sample. At a 100-TB corpus with corpus-scale anchors,
    * swap the candidate source for the IVF/LSH bucketed join (annTopK /
    * semanticNeighbors) and keep the same role/rank tail — the
    * ranking+selection contract below does not change.
    *
    * @return (anchor_id, role 'pos'|'neg', rank, cand_id, cos) — cos
    *         rounded to 6 and RANKED on the rounded value (ties by
    *         cand_id) so external replays rank identically
    */
  def minePairs(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, anchorPred: Column, posK: Int = 1,
      negK: Int = 3): DataFrame = {
    require(posK > 0 && negK > 0, s"posK/negK must be positive: $posK, $negK")
    val anchors = df.where(anchorPred)
      .select(col(idCol).as("anchor_id"), col(vecCol).as("__avec"),
        col(labelCol).as("__albl"))
    val cand = df.select(col(idCol).as("cand_id"), col(vecCol).as("__cvec"),
        col(labelCol).as("__clbl"))
      .join(broadcast(anchors), col("cand_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("cand_id"),
        when(col("__clbl") === col("__albl"), "pos").otherwise("neg")
          .as("role"),
        round(VectorOps.cosineNative(col("__cvec"), col("__avec")), 6)
          .as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("anchor_id", "role")
      .orderBy(col("cos").desc, col("cand_id").asc)
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("role") === "pos" && col("rank") <= posK ||
        col("role") === "neg" && col("rank") <= negK)
      .select("anchor_id", "role", "rank", "cand_id", "cos")
  }

  /** Per-DIMENSION embedding statistics — the embedding-table QA scan
    * (dead dimensions, saturated dimensions, mean drift after a model
    * swap): for each coordinate j, (n, mean, std, min, max). ONE
    * aggregate pass with 4d map-side-combining columns, unpivoted to d
    * rows by a stack generator — no explode of the vectors, no second
    * scan.
    *
    * Determinism: mean/std come from the [[graft.ext.DimReduce]]
    * fixed-point device — per-row values truncate at 1e-12 into longs
    * summed exactly in DECIMAL(38,0), so aggregation order is
    * irrelevant; min/max are order-invariant already; the final
    * mean/std double DAG is shared with the SQL replay verbatim.
    */
  def embeddingDimStats(df: DataFrame, vecCol: String, d: Int): DataFrame = {
    require(d > 0, s"d must be positive: $d")
    def x(j: Int) = element_at(col("__v"), j + 1)
    def fp(c: Column) = (c * lit(1e12)).cast("long").cast("decimal(38,0)")
    val aggs = (0 until d).flatMap { j => Seq(
      sum(fp(x(j))).as(s"__s_$j"),
      sum(fp(x(j) * x(j))).as(s"__q_$j"),
      min(x(j)).as(s"__mn_$j"),
      max(x(j)).as(s"__mx_$j")) }
    val one = df.select(VectorOps.toDouble(col(vecCol)).as("__v"))
      .agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = (0 until d).map { j =>
      val mean = s"CAST(__s_$j AS DOUBLE) / 1e12 / __n"
      s"${j}L, __n, round($mean, 6), " +
        s"round(sqrt(greatest(CAST(__q_$j AS DOUBLE) / 1e12 / __n" +
        s" - $mean * ($mean), 0D)), 6), " +
        s"round(__mn_$j, 6), round(__mx_$j, 6)"
    }.mkString(", ")
    one.selectExpr(
        s"stack($d, $stackArgs) AS (dim, n, mean, std, min_v, max_v)")
      .orderBy("dim")
  }

  /** Dimension-TRUNCATION retrieval audit (the Matryoshka-embedding
    * question): overlap@k between the exact top-k under the FULL vector
    * and the top-k under only the first `dims` coordinates. Run on a
    * query sample before shipping truncated embeddings — prefix dims
    * cost proportionally less to store/scan at 100 TB, and this measures
    * exactly what that truncation loses (MRL-trained embeddings hold
    * overlap near 1; untrained ones degrade fast).
    *
    * Scale shape: ONE corpus×query-sample scored pass (queries
    * broadcast) feeds BOTH rankings — full and truncated cosine ride the
    * same row — so the audit costs one fused-kernel scan plus two
    * bounded per-query window ranks. Shared round-6 cosine + (cos, id)
    * tie-break on both sides, so a miss is a genuine truncation miss.
    *
    * @return (query_id, dims, n_hits, overlap) — overlap = |∩| / k
    */
  def dimTruncationAudit(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, dims: Int): DataFrame = {
    require(k > 0 && dims > 0, s"k and dims must be positive: $k, $dims")
    import org.apache.spark.sql.expressions.Window
    val ev = VectorOps.toDouble(col(vecCol))
    val corpus = df.select(col(idCol).as("id"), ev.as("v"))
      .withColumn("vt", slice(col("v"), 1, dims))
    val queries = df.where(queryPred)
      .select(col(idCol).as("qid"), ev.as("qv"))
      .withColumn("qt", slice(col("qv"), 1, dims))
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col("qid"), col("id"),
        round(VectorOps.cosineNative(col("v"), col("qv")), 6).as("cos_full"),
        round(VectorOps.cosineNative(col("vt"), col("qt")), 6).as("cos_trunc"))
    val wF = Window.partitionBy("qid").orderBy(col("cos_full").desc, col("id"))
    val wT = Window.partitionBy("qid").orderBy(col("cos_trunc").desc, col("id"))
    val full = scored.withColumn("rn", row_number().over(wF))
      .where(col("rn") <= k).select("qid", "id")
    val trunc = scored.withColumn("rn", row_number().over(wT))
      .where(col("rn") <= k)
      .select(col("qid"), col("id"), lit(1).as("__hit"))
    full.join(trunc, Seq("qid", "id"), "left")
      .groupBy(col("qid").as("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
      .select(col("query_id"), lit(dims).as("dims"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 6).as("overlap"))
  }

  /** kNN-GRAPH construction over the whole corpus — every node's top-k
    * cosine neighbors among nodes sharing its IVF cluster (the nProbe=1
    * contract). The kNN graph is the backbone artifact of graph-based
    * ANN (HNSW/NSG builds), kNN-graph clustering, and local-density
    * curation scores; building it exactly is O(n²), so the standard
    * scale move is exactly this cluster-bucketed restriction: candidate
    * pairs come from an EQUI-join on the assigned cluster id — never an
    * all-pairs product — and the per-cluster quadratic term is bounded
    * by cluster size (size the centroid count ∝ √n at ingest; more
    * centroids = smaller clusters = cheaper and more approximate).
    *
    * Per-node ranking uses the bounded-buffer [[graft.functions.TopKAgg]]
    * hash aggregate (map-side combinable, k-sized buffers — no window
    * sort over the pair table). Determinism: assignment is the proven
    * `q_sim_ivf_assign` subtractive-dot argmin (ties to smaller cid);
    * neighbors rank on the ROUND-6 cosine with ties to the smaller
    * neighbor id, so external replays rank identically.
    *
    * @return (src, rn, dst, cos) — rn 1-based by (cos desc, dst asc)
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])], k: Int): DataFrame = {
    require(centroids.nonEmpty && k > 0, "need centroids and k > 0")
    val e = VectorOps.toDouble(col(vecCol))
    val cluster = nearestCentroid(e, centroids).getField("cid")
    val assigned = df.select(col(idCol).cast("long").as("id"),
      e.as("__v"), cluster.as("__c"))
    val pairs = assigned
      .select(col("__c"), col("id").as("src"), col("__v").as("__va"))
      .join(assigned.select(col("__c").as("__c2"), col("id").as("dst"),
          col("__v").as("__vb")),
        col("__c") === col("__c2") && col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(VectorOps.cosineNative(col("__va"), col("__vb")), 6).as("cos"))
    val topk = udaf(new graft.functions.TopKAgg(k))
    pairs.groupBy("src").agg(topk(col("cos"), col("dst")).as("__top"))
      .select(col("src"),
        posexplode(col("__top")).as(Seq("__rank0", "__entry")))
      .select(col("src"), (col("__rank0") + 1).cast("int").as("rn"),
        col("__entry._2").as("dst"), col("__entry._1").as("cos"))
  }

  /** Incremental kNN-graph maintenance (r15): insert a document batch
    * into an EXISTING [[knnGraph]] edge table without rebuilding the
    * quadratic within-cluster pair stage — the graph twin of
    * `Dedup.incrementalDedup`, and the missing piece between "graph
    * built once at ingest" (the [[beamSearchKnnHier]] premise) and a
    * living corpus.
    *
    * Shape: both sides are assigned to the FIXED centroids (one scan
    * each, the proven argmin kernel — no pairs); the ONLY pair stage is
    * batch × cluster-members (cost |batch| · clusterSize, not
    * clusterSize²). Batch nodes take their top-k straight from that pair
    * table (their candidate set is exactly their cluster). Existing
    * nodes whose cluster the batch touched merge their CURRENT adjacency
    * with the reversed batch pairs and re-trim to k — an edge the old
    * top-k dropped ranked below position k then and a new edge can only
    * push it further down, so the merge is exact, not approximate.
    * Untouched nodes' rows pass through VERBATIM (anti-join), never
    * re-aggregated.
    *
    * EXACTNESS: the result equals `knnGraph(base ∪ batch, …)` row for
    * row (same round-6 cosines, same (cos desc, dst) ties) PROVIDED
    * `baseGraph` was built by [[knnGraph]] over `base` with the SAME
    * centroids and k — centroids are fixed by contract (the md5-pinned
    * convention), so base assignments cannot move.
    *
    * @param baseGraph [[knnGraph]] output over `base` (src, rn, dst, cos)
    * @return the merged graph in [[knnGraph]]'s shape (src, rn, dst, cos)
    */
  def knnGraphInsert(baseGraph: DataFrame, base: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[(Long, Seq[Double])],
      k: Int): DataFrame = {
    require(centroids.nonEmpty && k > 0, "need centroids and k > 0")
    val e = VectorOps.toDouble(col(vecCol))
    val cluster = nearestCentroid(e, centroids).getField("cid")
    def assign(df: DataFrame): DataFrame = df.select(
      col(idCol).cast("long").as("id"), e.as("__v"), cluster.as("__c"))
    val assignedBatch = assign(batch)
    val members = assign(base).unionByName(assignedBatch)
    // the one pair stage: batch × members of its cluster (both directions
    // ride this table — reversed rows feed the touched base nodes)
    // persisted: both the forward (batch top-k) and reversed (touched
    // base nodes) consumers read it — |batch| · clusterSize rows, bounded
    val pairs = graft.Caches.register(assignedBatch
      .select(col("__c"), col("id").as("bid"), col("__v").as("__vb"))
      .join(members.select(col("__c").as("__c2"), col("id").as("oid"),
          col("__v").as("__vo")),
        col("__c") === col("__c2") && col("bid") =!= col("oid"))
      .select(col("bid"), col("oid"),
        round(VectorOps.cosineNative(col("__vb"), col("__vo")), 6).as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val topk = udaf(new graft.functions.TopKAgg(k))
    def explodeTop(agged: DataFrame): DataFrame = agged
      .select(col("src"), posexplode(col("__top")).as(Seq("__rank0", "__entry")))
      .select(col("src"), (col("__rank0") + 1).cast("int").as("rn"),
        col("__entry._2").as("dst"), col("__entry._1").as("cos"))
    val batchRows = explodeTop(
      pairs.groupBy(col("bid").as("src")).agg(topk(col("cos"), col("oid")).as("__top")))
    // candidate edges for EXISTING nodes: the reversed pairs whose target
    // is not itself a batch row (those already took the forward direction)
    val reverse = pairs
      .join(assignedBatch.select(col("id").as("oid")), Seq("oid"), "left_anti")
      .select(col("oid").as("src"), col("bid").as("dst"), col("cos"))
    val touched = reverse.select("src").distinct()
    val untouched = baseGraph.join(touched, Seq("src"), "left_anti")
    val retrimmed = explodeTop(
      baseGraph.join(touched, Seq("src"), "left_semi")
        .select(col("src"), col("dst"), col("cos"))
        .unionByName(reverse)
        .groupBy("src").agg(topk(col("cos"), col("dst")).as("__top")))
    untouched.select("src", "rn", "dst", "cos")
      .unionByName(retrimmed)
      .unionByName(batchRows)
  }

  /** The symmetrized, distinct layer-0 kNN edge table (src, dst) of a
    * directed [[knnGraph]] frame — ONE definition shared by the
    * in-memory [[indexFlat]], [[persistIndexHier]] and
    * [[insertIndexHier]], so the persisted, inserted and in-memory edge
    * sets cannot silently diverge. SYMMETRIZED for the walk (HNSW links
    * are bidirectional): in the directed top-k graph a node that appears
    * in nobody's neighbor list is unreachable even though its own
    * out-edges point at well-connected nodes; adding the reverses makes
    * every node degree >= graphK (measured: recall 0.67 directed vs 0.70
    * symmetrized, same budget).
    */
  private[graft] def symmetrizedKnnEdges(graph: DataFrame): DataFrame = {
    val kg = graph.select(col("src"), col("dst"))
    kg.union(kg.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Spark's `ORDER BY cos DESC, id` over a walk's visited (id, cos):
    * null scores last, doubles compared as Spark compares them (NaN
    * largest), ties to the smaller id.
    */
  private val walkOrder: Ordering[(Long, java.lang.Double)] = (a, b) => {
    val c =
      if (a._2 == null || b._2 == null)
        java.lang.Boolean.compare(a._2 == null, b._2 == null)
      else SQLOrderingUtil.compareDoubles(b._2, a._2)
    if (c != 0) c else java.lang.Long.compare(a._1, b._1)
  }

  /** One routed walk, run inside a task: visited starts as the `entries`
    * that have a vector in `vecs`; each of `hops` rounds scores the
    * distinct out-neighbours (through `adj`) of the top-`beamWidth`
    * visited nodes that are not yet visited and have a vector. Scores are
    * `round(graft_cos(v, qv), 6)`, computed by the expression's own loop
    * and Spark's rounding. Returns the top `k` visited (id, cos).
    */
  private def beamWalk(qv: ArrayData, entries: Seq[Long],
      vecs: Map[Long, ArrayData], adj: Map[Long, Seq[Long]], k: Int,
      beamWidth: Int, hops: Int): Seq[(Long, java.lang.Double)] = {
    def score(id: Long): (Long, java.lang.Double) = {
      val v = vecs(id)
      val cos = if (v == null || qv == null) null
        else CosineSimilarity.eval(v, false, qv, false)
      id -> (if (cos == null) null else Double.box(round6(cos.asInstanceOf[Double])))
    }
    var visited = entries.filter(vecs.contains).map(score)
    val seen = scala.collection.mutable.HashSet(visited.map(_._1): _*)
    for (_ <- 1 to hops) {
      visited ++= visited.sorted(walkOrder).take(beamWidth)
        .flatMap(b => adj.getOrElse(b._1, Nil))
        .filter(id => vecs.contains(id) && seen.add(id))
        .map(score)
    }
    visited.sorted(walkOrder).take(k)
  }

  /** The per-(query, cluster) routed beam walks of [[beamSearchKnnHier]]:
    * every cluster's vectors and adjacency are grouped by `cid` in one
    * aggregation, each cluster row receives the list of all walks and
    * keeps those whose entry node it holds (a node is in exactly one
    * cluster, its assignment), and each walk runs all its hops inside
    * that task ([[beamWalk]]). The walk list (bounded by queries ×
    * nProbe) is broadcast by hint: a join strategy left to AQE varied
    * between runs of the plan-shape golden.
    * `corpus` = (id, v, cid); `walks` = (qid, id, qv), one row per entry
    * node; `edges` = (src, dst, cid).
    * Returns every walk's top-k visited as (qid, id, cos).
    */
  private def routedBeamWalk(corpus: DataFrame, walks: DataFrame,
      edges: DataFrame, k: Int, beamWidth: Int, hops: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def vec(r: Row, i: Int): ArrayData =
      if (r.isNullAt(i)) null else new GenericArrayData(r.getSeq[Any](i).toArray)
    // collect_list skips the other side's nulls
    val clusters = corpus
      .select(col("cid"), struct("id", "v").as("node"),
        lit(null).cast("struct<src:bigint,dst:bigint>").as("edge"))
      .unionByName(edges.select(col("cid"),
        lit(null).cast("struct<id:bigint,v:array<double>>").as("node"),
        struct("src", "dst").as("edge")))
      .groupBy("cid")
      .agg(collect_list("node").as("nodes"), collect_list("edge").as("adj"))
    clusters
      .crossJoin(broadcast(walks.agg(collect_list(struct("qid", "id", "qv")).as("walks"))))
      .flatMap { r =>
        val vecs = r.getSeq[Row](1).map(n => n.getLong(0) -> vec(n, 1)).toMap
        val adj = r.getSeq[Row](2).groupMap(_.getLong(0))(_.getLong(1))
        r.getSeq[Row](3).filter(w => vecs.contains(w.getLong(1)))
            .groupBy(_.getLong(0)).toSeq.flatMap { case (qid, w) =>
          beamWalk(vec(w.head, 2), w.map(_.getLong(1)), vecs, adj, k,
              beamWidth, hops)
            .map { case (id, cos) => (qid, id, Option(cos).map(_.doubleValue)) }
        }
      }
      .toDF("qid", "id", "cos")
  }

  // -- two-level (hierarchical) centroid routing (r18) -------------------
  // At 100 TB the √n centroid set is itself corpus-sized: a flat index
  // would collect it to the driver and inline it into probe expressions.
  // The fix is a ROUTING LAYER — centroids-of-centroids: the driver
  // holds only the nCells cell leaders; a query ranks cells from that
  // bounded list, then ranks ONLY the routed cells' member centroids
  // through a distributed equi-join against the persisted centroid
  // TABLE. The driver collect is bounded by the cell count, never the
  // centroid count.

  private def dotSeq(a: Seq[Double], b: Seq[Double]): Double = {
    // left-to-right fold — the same IEEE accumulation order as the
    // native dot expression and DuckDB's list_dot_product, so a
    // driver-side assignment replays exactly in the oracle
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Cells = the first `nCells` centroids in their md5 pick order (the
    * same deterministic-selection device as the centroids themselves;
    * farthest-first spread leaders were measured WORSE — in high-dim
    * concentrated-distance embeddings spread maximization picks
    * outliers whose routing is noise). Each centroid joins its nearest
    * cell leader (raw-d2 order, ties to the smaller cell id), and every
    * cell records its RADIUS — max leader→member L2 distance — which is
    * what turns routing from a recall-losing heuristic into an exact
    * bound (see [[beamSearchKnnHier]]). Driver-bounded:
    * |centroids| × nCells.
    */
  private[graft] def cellAssignOf(centroids: Seq[(Long, Seq[Double])],
      nCells: Int): (Seq[(Long, Seq[Double], Double)], Map[Long, Long]) = {
    require(nCells >= 1 && nCells <= centroids.size,
      s"nCells must be in [1, ${centroids.size}]: $nCells")
    val cells = centroids.take(nCells)
    val assign = centroids.map { case (cid, cv) =>
      cid -> cells.map { case (cell, clv) => (d2Seq(cv, clv), cell) }.min._2
    }.toMap
    val cellsWithRadius = cells.map { case (cell, clv) =>
      val r = centroids.filter(c => assign(c._1) == cell).map { case (_, cv) =>
        // sqrt is IEEE-exact (unlike pow/ln), so the radius replays
        // bit-identically in the oracle
        math.sqrt(math.max(0.0, d2Seq(cv, clv)))
      }.foldLeft(0.0)(math.max)
      (cell, clv, r)
    }
    (cellsWithRadius, assign)
  }

  /** The two-level ANN index — the only ANN index type: `cells`
    * (leader vector + radius) is the only driver-side piece (bounded by
    * the cell count); centroids (cid, cell, cvec), the corpus assignment
    * (id, cid), and the symmetrized adjacency (src, dst, cid) stay
    * distributed tables. Every edge is intra-cluster and carries its
    * source's cluster id, which is what lets [[beamSearchKnnHier]] read
    * one cluster's adjacency next to that cluster's vectors. One layout
    * for every index: [[indexFlat]] builds the one-cell (flat) index in
    * memory, [[loadIndexHier]] reloads a [[persistIndexHier]] artifact.
    */
  final case class HierIndex(cells: Seq[(Long, Seq[Double], Double)],
      centroids: DataFrame, assign: DataFrame, edges: DataFrame)

  /** Build the one-cell (flat) [[HierIndex]] in memory, without the
    * persist/reload round trip: the tables `persistIndexHier(nCells = 1)`
    * writes — the cell from [[cellAssignOf]], the centroid table from the
    * driver Seq, the corpus assignment by the nearest-centroid
    * expression, the [[symmetrizedKnnEdges]] adjacency tagged with each
    * source's cluster id (src, dst, cid) — so a search over it equals the
    * search over the reloaded artifact row for row. The one
    * cell holds every centroid: pass 1 of [[beamSearchKnnHier]] ranks all
    * of them by (d², cid) and pass 2 admits that same cell, which is the
    * flat centroid ranking. Multi-cell indexes come from
    * [[persistIndexHier]].
    *
    * @param edgePinKey when set, the edge table is materialized through
    *   [[graft.Caches.pinned]] under this key (convention
    *   "what|dataDir") and shared across queries and reps — the
    *   production reading, where the kNN graph is BUILT ONCE at ingest
    *   and every search serves from it. When None (library default) the
    *   edge table stays lazy and each search builds the graph once, in
    *   its own plan. The effective pin key
    *   is SUFFIXED internally with graphK and a hash of the centroids
    *   (r14 ADVICE): two call sites reusing a caller-chosen key with
    *   different graph parameters must get different pins, never
    *   silently share the wrong edge table.
    */
  def indexFlat(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])], graphK: Int,
      edgePinKey: Option[String] = None): HierIndex = {
    require(centroids.nonEmpty && graphK > 0, "need centroids, graphK > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val (cells, cellOf) = cellAssignOf(centroids, 1)
    val cvecs = centroids.map { case (cid, v) => (cid, cellOf(cid), v) }
      .toDF("cid", "cell", "cvec")
    val assign = df.select(col(idCol).cast("long").as("id"),
      nearestCentroid(VectorOps.toDouble(col(vecCol)), centroids)
        .getField("cid").as("cid"))
    val edges = symmetrizedKnnEdges(
        knnGraph(df, idCol, vecCol, centroids, graphK))
      .join(assign.select(col("id").as("src"), col("cid")), Seq("src"))
      .select("src", "dst", "cid")
    HierIndex(cells, cvecs, assign, edgePinKey match {
      case Some(key) =>
        // parameter-proof key: the caller names the artifact, the
        // parameters that shape it (graphK + the centroid set) are
        // hashed in here so a mismatch can never alias
        val md = java.security.MessageDigest.getInstance("MD5")
        val sig = md.digest(centroids
            .map { case (cid, cv) => s"$cid:${cv.mkString(",")}" }
            .mkString(";").getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString
        graft.Caches.pinned(s"$key|gk$graphK|c$sig")(edges)
      case None => edges
    })
  }

  /** PERSIST the two-level ANN index (r17/r18) — the production index
    * lifecycle the session pins cannot provide: the tables of a
    * [[HierIndex]] are written through the DSv2 graft-avro sink
    * (commit/abort protocol, stats sidecars), so a FRESH session
    * reloads and serves them without touching the corpus. Layout:
    * `<dir>/cells` = (cell, pos, val, radius), `<dir>/centroids` =
    * (cid, cell, pos, val) — vectors exploded to the five-primitive sink
    * contract, doubles round-trip bit-exactly through Avro's binary
    * double — `<dir>/assign` = (id, cid), `<dir>/graph` =
    * (src, rn, dst, cos), `<dir>/edges` = (src, dst), the last three
    * partitioned by cid. The build-time corpus assignment enumerates the
    * centroid literals once (the k-means-style ingest job); SERVE time
    * never does.
    */
  def persistIndexHier(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])], nCells: Int, graphK: Int,
      dir: String): Unit = {
    require(centroids.nonEmpty && graphK > 0, "need centroids, graphK > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val (cells, cellOf) = cellAssignOf(centroids, nCells)
    // cells/centroids are bounded metadata tables (n_cells × dims /
    // n_centroids × dims rows) built from driver-side Seqs — toDF gives
    // them defaultParallelism near-empty partitions, which the sink
    // would faithfully write as one tiny container EACH (measured: 32
    // files of ~200 bytes per table, ×4 with sidecars — the §6
    // small-files anti-pattern, paid again by every reload, artifact
    // copy and fixture scan). One file is the right layout at any scale:
    // these tables are bounded by the centroid count, not the corpus.
    // (Written in the §2.6-overlapped Par.all below, r21.)
    val ev = VectorOps.toDouble(col(vecCol))
    // persisted: the assignment feeds its own partitioned write AND both
    // adjacency writes' srcCid joins (r21 — was recomputed per consumer)
    val assignDf = graft.Caches.register(
      df.select(col(idCol).cast("long").as("id"), ev.as("v"))
        .select(col("id"),
          nearestCentroid(col("v"), centroids).getField("cid").as("cid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    assignDf.count() // build once; the concurrent writers below only read
    // assign is CLUSTER-PARTITIONED like graph/edges (r20): the insert
    // path reads only the touched clusters' assignments, which becomes a
    // directory-pruned scan instead of a full read + filter; the write's
    // declared clustered distribution concentrates each cid into few
    // containers (was one near-empty file per scan partition). Scale-
    // adaptive by construction — file count follows the clustered
    // shuffle's AQE-coalesced partitioning, not a local constant.
    //
    // r21 §2.6: the five writes land in DISJOINT directories. The
    // bounded metadata writes and the assign write are independent of
    // the kNN graph build, so they run while a third task materializes
    // the graph; the two adjacency writes then overlap each other (both
    // read the built kg + assignDf caches).
    //
    // r19: the DIRECTED graph (src, rn, dst, cos) persists too, CLUSTER-
    // PARTITIONED (every kNN edge is intra-cluster by construction) —
    // what [[insertIndexHier]] needs to merge-and-retrim exactly, laid
    // out so an insert refreshes ONLY the touched clusters' directories
    // and every other cluster's files stay byte-identical. The
    // symmetrized serve edges take the same layout for the same reason.
    val kg = graft.Caches.register(
      knnGraph(df, idCol, vecCol, centroids, graphK)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val srcCid = assignDf.select(col("id").as("src"), col("cid"))
    val sym = symmetrizedKnnEdges(kg)
    graft.Par.all(
      () => {
        graft.sources.AvroSink.write(
          cells.flatMap { case (cell, v, r) =>
            v.zipWithIndex.map { case (x, i) => (cell, i, x, r) }
          }.toDF("cell", "pos", "val", "radius").coalesce(1),
          s"$dir/cells", overwrite = true)
        graft.sources.AvroSink.write(
          centroids.flatMap { case (cid, v) =>
            v.zipWithIndex.map { case (x, i) => (cid, cellOf(cid), i, x) }
          }.toDF("cid", "cell", "pos", "val").coalesce(1),
          s"$dir/centroids", overwrite = true)
      },
      () => graft.sources.AvroSink.writePartitioned(assignDf,
        s"$dir/assign", Seq("cid"), overwrite = true),
      () => {
        kg.count() // overlapped with the metadata and assign writes
        graft.Par.all(
          () => graft.sources.AvroSink.writePartitioned(
            kg.join(srcCid, Seq("src")).select("src", "rn", "dst", "cos", "cid"),
            s"$dir/graph", Seq("cid"), overwrite = true),
          () => graft.sources.AvroSink.writePartitioned(
            sym.join(srcCid, Seq("src")).select("src", "dst", "cid"),
            s"$dir/edges", Seq("cid"), overwrite = true))
      })
  }

  /** Collect a [[persistIndexHier]] artifact's centroid vectors
    * (bounded: n_centroids × dims exploded rows).
    */
  private def readCentroidsHier(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, Seq[Double])] =
    spark.read.format("graft-avro").load(s"$dir/centroids")
      .select("cid", "pos", "val").collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Int]("pos"),
        r.getAs[Double]("val")))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cid, rows) =>
        (cid, rows.sortBy(_._2).map(_._3).toIndexedSeq: Seq[Double])
      }

  /** Recursive copy of an index artifact, one [[graft.Par]] task per
    * file (r21, guide §7.3: ~150 files of pure driver-side FS metadata
    * work per copy). Deletes `dst` first; empty directories carry no
    * table data, so only files are reproduced.
    */
  private def copyDir(src: String, dst: String): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dst), true)
    val files = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.Path]
    val it = fs.listFiles(srcPath, true)
    while (it.hasNext) files += it.next().getPath
    val srcRoot = fs.makeQualified(srcPath).toString
    graft.Par.map(files.toSeq) { f =>
      val rel = fs.makeQualified(f).toString.stripPrefix(srcRoot)
      org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
        new org.apache.hadoop.fs.Path(dst + rel), false, conf)
    }
  }

  /** INCREMENTAL batch insert into a persisted two-level index (r19) —
    * [[knnGraphInsert]] extended to the on-disk artifact: the routing
    * layer (cells, radii, centroid vectors) depends ONLY on the fixed
    * centroid set, so it is untouched by construction; the batch joins
    * the corpus via
    *  - an APPEND to `assign` (existing assignment files byte-identical),
    *  - a refresh of exactly the TOUCHED clusters' `graph`/`edges`
    *    partition directories (partition-grain delete = directory
    *    unlink + clustered append; every untouched cluster's files stay
    *    byte-identical on disk),
    * with the adjacency merged-and-retrimmed through [[knnGraphInsert]]
    * — EXACT by its contract: the updated artifact equals a full
    * [[persistIndexHier]] rebuild over base ∪ batch, row for row, so a
    * search over it is the rebuild's search (HierAnnSpec pins both).
    *
    * `base` = the corpus the artifact was built over (ingest-time op:
    * the centroid collect is bounded by the centroid count; the one
    * pair stage costs |batch| × clusterSize). `graphK` must match the
    * build. Not crash-atomic across the three writes — re-run from the
    * prior artifact after a crash, or enable the manifest log
    * ([[graft.sources.AvroVersions.enable]]) on the artifact
    * directories for fenced, snapshot-isolated commits.
    *
    * @param copyFrom copy-then-insert: when set, `dir` is first
    *   replaced by a copy of this artifact and the insert lands in the
    *   copy, leaving `copyFrom` untouched. The copy (pure driver-side FS
    *   work) and the insert's whole compute phase — centroid collect,
    *   batch assignment, merge materialization, all read from the
    *   immutable `copyFrom` — run as one [[graft.Par.all]], so both have
    *   finished before the first mutation of `dir`, on every path
    *   including the empty-batch return. `copyFrom` must not be mutated
    *   concurrently.
    */
  def insertIndexHier(base: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, graphK: Int, dir: String,
      copyFrom: Option[String] = None): Unit = {
    require(graphK > 0, "need graphK > 0")
    val spark = base.sparkSession
    val src = copyFrom.getOrElse(dir)
    // compute phase: reads `src` only, never mutates anything. Returns
    // (touched clusters, assigned batch, base assign, merged adjacency),
    // or None for a batch that touches no cluster.
    def merge(): Option[(Seq[Long], DataFrame, DataFrame, DataFrame)] = {
      val centroids = readCentroidsHier(spark, src)
      require(centroids.nonEmpty, s"$src/centroids is empty")
      val ev = VectorOps.toDouble(col(vecCol))
      // assignedBatch is read FOUR times per insert (touched collect, both
      // refresh writes via srcCid, the assign append) — persist it (r21,
      // guide §5); batch-sized and bounded, the touched collect below
      // materializes it
      val assignedBatch = graft.Caches.register(batch
        .select(col(idCol).cast("long").as("id"), ev.as("v"))
        .select(col("id"),
          nearestCentroid(col("v"), centroids).getField("cid").as("cid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val touched: Seq[Long] = assignedBatch.select("cid").distinct()
        .collect().map(_.getLong(0)).sorted.toIndexedSeq
      if (touched.isEmpty) None
      else {
        val touchedLit = touched.map(java.lang.Long.valueOf)
        // the assign table must carry the r20 cluster-partitioned layout —
        // a legacy FLAT assign dir would read `cid` as a data column here
        // but fail the partitioned append at the end (the sink's
        // flat-append gate), leaving the graph/edges refresh
        // half-committed. Fail BEFORE any mutation instead (r21 ADVICE).
        require(graft.sources.AvroSink.hasPartitionSpec(s"$src/assign"),
          s"$src/assign has no partition spec — a pre-r20 flat index " +
            "artifact cannot take incremental inserts; rebuild it with " +
            "persistIndexHier first")
        val baseAssign = spark.read.format("graft-avro").load(s"$src/assign")
          .select(col("id").cast("long").as("id"),
            col("cid").cast("long").as("cid"))
        // base rows of the touched clusters only — the insert's working set
        val baseTouched = base.join(
          baseAssign.where(col("cid").isin(touchedLit: _*))
            .select(col("id").as("__bid")),
          col(idCol).cast("long") === col("__bid"))
          .drop("__bid")
        // the persisted directed graph, partition-pruned to touched clusters
        val baseGraph = spark.read.format("graft-avro").load(s"$src/graph")
          .where(col("cid").isin(touchedLit: _*))
          .select("src", "rn", "dst", "cos")
        val merged = graft.Caches.register(
          knnGraphInsert(baseGraph, baseTouched, batch, idCol, vecCol,
            centroids, graphK)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        // MATERIALIZE before the partition deletes below: without
        // copyFrom, merged's lineage READS the graph directory those
        // deletes unlink — a lazy persist would recompute from vanished
        // files. With copyFrom the eager build is still what lets the two
        // refresh writes share one materialization instead of racing to
        // build the cache.
        merged.count()
        Some((touched, assignedBatch, baseAssign, merged))
      }
    }
    val prepared = copyFrom match {
      case None => merge()
      case Some(from) =>
        var m: Option[(Seq[Long], DataFrame, DataFrame, DataFrame)] = None
        graft.Par.all(() => copyDir(from, dir), () => m = merge())
        m
    }
    prepared.foreach { case (touched, assignedBatch, baseAssign, merged) =>
      val touchedLit = touched.map(java.lang.Long.valueOf)
      val srcCid = baseAssign.unionByName(assignedBatch)
        .where(col("cid").isin(touchedLit: _*))
        .select(col("id").as("src"), col("cid"))
      // refresh = partition-grain delete (directory unlink, zero reads) +
      // clustered append of the merged adjacency
      def refreshPartDir(sub: String, out: DataFrame): Unit = {
        graft.sources.AvroSink.deleteWhere(spark, s"$dir/$sub",
          col("cid").isin(touchedLit: _*))
        graft.sources.AvroSink.writePartitioned(out, s"$dir/$sub", Seq("cid"))
      }
      val sym = symmetrizedKnnEdges(merged)
      // r21 (guide §2.6 — overlap independent jobs): the graph and edges
      // refreshes touch DISJOINT directories and read only materialized
      // inputs (merged is cached and counted above; srcCid scans the
      // pre-append assign table, which neither branch mutates), so their
      // delete+write choreography runs concurrently — the edges jobs
      // back-fill executors left idle by the graph commit's driver-side
      // rename tail. Both finish before the assign append below, which
      // stays LAST and serial (crash-ordering note).
      graft.Par.all(
        () => refreshPartDir("graph", merged.join(srcCid, Seq("src"))
          .select("src", "rn", "dst", "cos", "cid")),
        () => refreshPartDir("edges", sym.join(srcCid, Seq("src"))
          .select("src", "dst", "cid")))
      // assignment append LAST: a crash above leaves the batch
      // un-admitted to the corpus join — but NOT blindly re-runnable in
      // place: a crash inside the graph/edges refresh leaves those
      // directories partially swapped, and a re-run would merge against
      // the polluted adjacency (duplicated or missing edges). Recover by
      // restoring the prior artifact (a copy, or the manifest log per
      // the method doc); only a crash BEFORE the first delete above is
      // safely re-runnable in place. Partitioned append — assign is
      // cluster-partitioned since r20 (see [[persistIndexHier]]).
      graft.sources.AvroSink.writePartitioned(assignedBatch, s"$dir/assign",
        Seq("cid"))
    }
  }

  /** Reload a [[persistIndexHier]] artifact. ONLY the cells collect
    * (n_cells × dims rows); centroid vectors re-assemble distributedly
    * from their exploded rows.
    */
  def loadIndexHier(spark: org.apache.spark.sql.SparkSession,
      dir: String): HierIndex = {
    val cells = spark.read.format("graft-avro").load(s"$dir/cells")
      .collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Int]("pos"),
        r.getAs[Double]("val"), r.getAs[Double]("radius")))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cell, rows) =>
        (cell, rows.sortBy(_._2).map(_._3).toIndexedSeq: Seq[Double],
          rows.head._4)
      }
    val cvecs = spark.read.format("graft-avro").load(s"$dir/centroids")
      .groupBy("cid", "cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("val")))).as("pv"))
      .select(col("cid"), col("cell"),
        expr("transform(pv, s -> s.val)").as("cvec"))
    HierIndex(cells,
      cvecs,
      spark.read.format("graft-avro").load(s"$dir/assign"),
      spark.read.format("graft-avro").load(s"$dir/edges"))
  }

  /** HNSW-style graph-ANN QUERY over a [[HierIndex]]: a two-layer
    * hierarchical search with a fixed hop budget — the search side of
    * graph ANN (Malkov & Yashunin 2018), deterministic enough to replay
    * hop by hop in SQL. The UPPER layer routes: the query enters the
    * `nProbe` centroids nearest to it via their centroid NODES (the
    * md5-fixed vectors the graph was bucketed by — each is a real corpus
    * node). The LOWER layer walks: `hops` rounds of expand-every-kNN-
    * out-edge of the current beam, score the unseen endpoints, keep the
    * best `beamWidth` PER (query, cluster) — per-cluster beams, because
    * the graph's components are the clusters and one global beam
    * collapses into the single best component (measured recall 0.44
    * global vs 0.70 routed at the same probe budget). The final top-k
    * ranks ALL visited nodes globally.
    *
    * Entry routing is EXACT two-level bound routing (r18) — the
    * property a heuristic top-cells rule cannot give (measured:
    * md5-leading 3-of-4-cell routing lost 0.03–0.04 avg recall vs
    * flat): the entry set provably EQUALS the flat (d², cid) ranking of
    * every centroid, so recall at the same probe budget is identical by
    * construction, while most cells are never member-ranked. With
    * `nCells = 1` the routing IS that flat ranking.
    *
    * Triangle-inequality routing (the IVF branch-and-bound device; L2
    * sqrt is IEEE-exact so every bound replays bit-identically in the
    * oracle): for cell leader l with radius r (max leader→member
    * distance, stored at build), every member m satisfies
    * d(q, m) ≥ d(q, l) − r = lb(cell). Pass 1 ranks the members of the
    * single best-lb cell and takes UB = its nProbe-th member distance
    * (+∞ when fewer); pass 2 ranks members of exactly the cells with
    * lb ≤ UB. Any true top-nProbe member has d ≤ UB, hence its cell has
    * lb ≤ UB, hence it is ranked — the final top-nProbe is the flat
    * top-nProbe, always. At 100 TB with √n centroids in √√n-ish cells,
    * concentrated queries rank a handful of cells' members instead of
    * the whole centroid table, and the driver holds ONLY the cell list.
    *
    * Both passes rank in the row: the centroid table is grouped by cell
    * once (one row per cell holding its members' (cid, cvec)), a query
    * joins the cells it routes to, and each joined (query, cell) row
    * sorts its members by (d², cid) in place. Pass 1 reads UB off the
    * best cell's row; pass 2 keeps each admitted cell's top-nProbe and
    * merges them per query. The query frame is read once and its vector
    * rides along to the walks. The bound: one routed (query, cell) row
    * holds that cell's members, about centroids / nCells vectors.
    *
    * Scale shape: every kNN edge is intra-cluster and the beam is kept
    * per (query, cluster), so no two walks share a node. A search reads
    * the corpus ⋈ assignment and the edge table once each, groups both
    * by cluster and runs every walk's `hops` rounds inside the task that
    * holds its cluster: a local top-k per walk, then one global top-k
    * per query (REPOSE's shape) in a single partition, which holds at
    * most queries × nProbe × k rows — one plan whose job count does not
    * depend on `hops`. The LIMIT: a task holds one cluster's vectors and
    * adjacency, about corpus size over the centroid count the caller
    * picks at build time (~250 64-d vectors in the ann_serve benchmark,
    * ~60 at sf0.01). A walk visits at most 1 + hops·beamWidth·graphK
    * nodes; nothing is quadratic or corpus-wide after the graph build.
    *
    * Corpus cluster ids come from the index's assignment table — serve
    * time inlines no centroid literals. Determinism: scores are ROUND-6
    * cosines with (cos desc, id) ties everywhere (the
    * [[knnGraph]]/[[ivfRecallAudit]] contract), centroid ranking is raw
    * d² with ties to the smaller centroid id, the hop budget is fixed —
    * so the visited set and ranking replay exactly and the oracle
    * unrolls each hop as a CTE.
    *
    * @return (query_id, rn, vec_id, cos) — the top-k visited per query
    */
  def beamSearchKnnHier(df: DataFrame, idCol: String, vecCol: String,
      index: HierIndex, queryPred: Column, k: Int,
      nProbe: Int = 4, beamWidth: Int = 2, hops: Int = 5): DataFrame = {
    require(index.cells.nonEmpty && k > 0 && beamWidth > 0 && nProbe > 0,
      "need cells, k > 0, beamWidth > 0, nProbe > 0")
    require(hops >= 1 && hops <= 8, s"hops must be in [1, 8]: $hops")
    import org.apache.spark.sql.expressions.Window
    val ev = VectorOps.toDouble(col(vecCol))
    // per-cell lower bound lb = max(d(q, leader) − radius, 0), from the
    // driver-bounded cell list only
    val cellEntries = index.cells.map { case (cell, clv, r) =>
      val dl = sqrt(greatest(d2(col("qv"), typedLit(clv)), lit(0.0)))
      struct(greatest(dl - lit(r), lit(0.0)).as("lb"), lit(cell).as("cell"))
    }
    // the query frame, read once: one row per query carries its vector
    // and its cells in (lb, cell) order through both passes to the walks
    val queries = df.where(queryPred)
      .select(col(idCol).cast("long").as("qid"), ev.as("qv"))
      .withColumn("lbs", array_sort(array(cellEntries: _*)))
    // one row per cell holding its members; a routed (query, cell) row
    // ranks them by (d², cid) inside the row
    val cellMembers = index.centroids.groupBy("cell")
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("members"))
    val ranked = array_sort(transform(col("members"), m =>
      struct(d2(col("qv"), m.getField("cvec")).as("d2"), m.getField("cid").as("cid"))))
    // pass 1: members of the single best-lb cell -> UB, the nProbe-th
    // member distance (+inf when the cell holds fewer)
    val p1 = queries
      .withColumn("cell", element_at(col("lbs"), 1).getField("cell"))
      .join(cellMembers, Seq("cell"))
      .select(col("qid"), col("qv"), col("lbs"), ranked.as("r"))
      .select(col("qid"), col("qv"), col("lbs"),
        when(size(col("r")) >= nProbe,
          sqrt(greatest(get(col("r"), lit(nProbe - 1)).getField("d2"), lit(0.0))))
          .otherwise(lit(Double.PositiveInfinity)).as("ub"))
    // pass 2: exactly the cells whose bound admits a better member, each
    // row's top-nProbe members merged into the query's top-nProbe. The
    // cells are filtered in the row: a Filter on `ub` would have the
    // optimizer infer isnotnull(ub) and re-rank pass 1 in its join
    val entries = p1
      .select(col("qid"), col("qv"),
        explode(filter(col("lbs"), s => s.getField("lb") <= col("ub"))).as("s"))
      .select(col("qid"), col("qv"), col("s").getField("cell").as("cell"))
      .join(cellMembers, Seq("cell"))
      .select(col("qid"), col("qv"), slice(ranked, 1, nProbe).as("top"))
      .groupBy("qid", "qv")
      .agg(slice(array_sort(flatten(collect_list("top"))), 1, nProbe).as("top"))
      .select(col("qid"), col("qv"), explode(col("top")).as("e"))
      .select(col("qid"), col("qv"), col("e").getField("cid").as("id"))
    val assign = index.assign.select(col("id").cast("long").as("id"),
      col("cid").cast("long").as("cid"))
    val corpus = df.select(col(idCol).cast("long").as("id"), ev.as("v"))
      .join(assign, Seq("id"))
    val edges = index.edges.select(col("src").cast("long"),
      col("dst").cast("long"), col("cid").cast("long"))
    // the walks' local top-k lists meet in one partition (≤ queries ×
    // nProbe × k rows) for the per-query top-k, in (query_id, rn) order
    val wq = Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))
    routedBeamWalk(corpus, entries, edges, k, beamWidth, hops)
      .repartition(1)
      .withColumn("rn", row_number().over(wq)).where(col("rn") <= k)
      .select(col("qid").as("query_id"), col("rn").cast("int").as("rn"),
        col("id").as("vec_id"), col("cos"))
      .sortWithinPartitions("query_id", "rn")
  }

  /** Recall@k of [[beamSearchKnnHier]] against the exact brute-force
    * top-k — the graph-ANN twin of [[ivfRecallAudit]], through the same
    * [[recallVsExact]] harness and tie rules, so the numbers compare at
    * equal probe budgets (a one-cell index gives the flat tier's
    * numbers).
    *
    * @return (query_id, n_hits, recall) — recall = |beam∩exact| / k
    */
  def beamRecallAuditHier(df: DataFrame, idCol: String, vecCol: String,
      index: HierIndex, queryPred: Column, k: Int,
      nProbe: Int = 4, beamWidth: Int = 2, hops: Int = 5): DataFrame = {
    val ev = VectorOps.toDouble(col(vecCol))
    val beamTop = beamSearchKnnHier(df, idCol, vecCol, index, queryPred,
        k, nProbe, beamWidth, hops)
      .select(col("query_id").as("qid"), col("vec_id").as("id"))
    recallVsExact(df.select(col(idCol).cast("long").as("id"), ev.as("v")),
      df.where(queryPred).select(col(idCol).cast("long").as("qid"), ev.as("qv")),
      beamTop, k)
  }

  /** Simplified silhouette per cluster (centroid-based Rousseeuw 1987
    * variant): s = (b − a)/max(a, b) with a = distance to the OWN
    * centroid and b = distance to the nearest OTHER centroid — the
    * clustering-quality readout that the full silhouette's all-pairs
    * distances make infeasible at scale (this variant is one scan ×
    * |centroids| expanded-dot evaluations per row, the same arithmetic
    * as the IVF assignment). Negative mean silhouette in a cluster ⇒
    * its points mostly sit closer to a neighboring centroid.
    *
    * Determinism: assignment ties break on (d², cid) exactly like
    * [[ivfTopKFixed]]; d² is clamped at 0 before the sqrt (the expanded
    * dot can land a hair negative); per-cluster means ride fixed-point
    * 1e9 longs.
    *
    * @return (cluster_id, n, mean_sil round-6) ordered by cluster_id
    */
  def clusterSilhouette(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    require(centroids.size >= 2, "need at least two centroids")
    val arr = centroidD2s(VectorOps.toDouble(col(vecCol)), centroids)
    val own = array_min(arr)
    val other = array_min(filter(arr, x => x.getField("cid") =!= own.getField("cid")))
    val a = sqrt(greatest(own.getField("d2"), lit(0.0)))
    val b = sqrt(greatest(other.getField("d2"), lit(0.0)))
    val s = when(greatest(a, b) > 0.0, (b - a) / greatest(a, b)).otherwise(lit(0.0))
    df.select(own.getField("cid").as("cluster_id"), s.as("__s"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("__s") * 1e9).cast("decimal(38,0)")).as("__s9"))
      .select(col("cluster_id"), col("n"),
        round(col("__s9").cast("double") / 1e9 / col("n").cast("double"), 6)
          .as("mean_sil"))
      .orderBy("cluster_id")
  }

  /** Mutual (reciprocal) kNN filtering over a [[knnGraph]] edge table:
    * keep the pair (a, b) only when BOTH directions survived the top-k
    * trim — a is in b's k nearest AND b is in a's. Reciprocity is the
    * classic precision filter on directed kNN edges (hubness control:
    * a hub that everyone lists as a neighbor but that lists none of
    * them back contributes no mutual edges), and mutual-kNN pairs are
    * the standard edge set for density-based near-dup clustering over
    * embeddings.
    *
    * Scale shape: ONE self-equi-join of the edge table on the composite
    * (src, dst) key — the graph is N·k rows (bounded by construction),
    * both sides pre-filtered to their canonical half (src < dst vs
    * src > dst), so the join never revisits the corpus or the pair
    * stage that built the graph. The cosine is taken from the forward
    * edge; the reverse edge's cosine is the same round-6 value by the
    * symmetry of [[knnGraph]]'s pair kernel.
    *
    * @param graph [[knnGraph]] output (src, rn, dst, cos)
    * @return (id_a, id_b, cos) with id_a < id_b, one row per mutual pair
    */
  def mutualKnnPairs(graph: DataFrame): DataFrame = {
    val fwd = graph.where(col("src") < col("dst"))
      .select(col("src"), col("dst"), col("cos"))
    val rev = graph.where(col("src") > col("dst"))
      .select(col("dst").as("src"), col("src").as("dst"))
    fwd.join(rev, Seq("src", "dst"), "left_semi")
      .select(col("src").as("id_a"), col("dst").as("id_b"), col("cos"))
  }

  /** Embedding-space geometry audit: the distribution of pairwise
    * cosines over a DETERMINISTIC id-pairing (even id ↔ id+1 — no RNG,
    * no sort, no quadratic pair join), histogrammed into `bins`
    * equal-width buckets over the fixed [−1, 1] range. A healthy
    * embedding space shows mass spread below ~0.5; a collapsed space
    * (anisotropy, dead training run) piles everything near 1 — this is
    * the one-pass screen before any ANN index build.
    *
    * Scale shape: one self-equi-join on id+1 (shuffle on id, the join
    * key the table would already be bucketed by), one fused `graft_cos`
    * per pair, one `bins`-row aggregate. Per-bin mean cosine rides
    * fixed-point 1e9 longs.
    *
    * @return (bin, n_pairs, mean_cos round-6) ordered by bin
    */
  def pairCosineHistogram(df: DataFrame, idCol: String, vecCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val a = df.where(col(idCol) % 2 === 0)
      .select(col(idCol).cast("long").as("__ida"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).cast("long").as("__idb"),
      col(vecCol).as("__vb"))
    a.join(b, col("__idb") === col("__ida") + 1)
      .select(VectorOps.cosineNative(col("__va"), col("__vb")).as("__cos"))
      // clamp BOTH ends: a cosine a hair outside [-1, 1] from float error
      // must land in bin 0 / bins-1, never a stray bin -1 / bins row
      .select(greatest(least(floor((col("__cos") + 1.0) / (2.0 / bins)),
        lit((bins - 1).toLong)), lit(0L)).as("bin"), col("__cos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(col("__cos") * 1e9).cast("decimal(38,0)")).as("__s9"))
      .select(col("bin"), col("n_pairs"),
        round(col("__s9").cast("double") / 1e9 / col("n_pairs").cast("double"),
          6).as("mean_cos"))
      .orderBy("bin")
  }

  /** k-NN CLASSIFICATION over an embedded, labeled corpus: for each row
    * matching `queryPred`, predict its label by majority vote of its k
    * exact cosine nearest neighbors (self excluded) — the audit tier of
    * weak-label propagation: run on a held-out sample, compare
    * `predicted` to `actual`, and the agreement rate tells you whether
    * the embedding space separates the label before trusting any
    * ANN-routed bulk labeling with it.
    *
    * Scale shape: the QUERY side is the bounded sample and broadcasts;
    * scoring streams the corpus once (N·Q fused-cosine rows, never
    * materialized); per-query top-k uses the bounded-buffer
    * [[graft.functions.TopKAgg]] (map-side partials, the shuffle
    * carries only Q k-sized buffers — no N·Q window sort); the vote is
    * a count over Q·k rows. Ties: neighbor rank breaks on (cos desc,
    * id asc), the vote on (votes desc, label asc) — both total orders,
    * engine-portable.
    *
    * Cosine is rounded to 6dp BEFORE ranking so the cut at rank k is
    * stable against last-ulp float noise (the q_sim_topk contract).
    */
  def knnClassify(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queryPred: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val topk = udaf(new graft.functions.TopKAgg(k))
    val q = df.where(queryPred).select(col(idCol).as("qid"),
      col(vecCol).as("__qv"), col(labelCol).as("actual"))
    val scored = df.select(col(idCol).as("nid"), col(vecCol).as("__nv"))
      .crossJoin(broadcast(q))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("actual"), col("nid"),
        round(VectorOps.cosineNative(col("__nv"), col("__qv")), 6).as("__cos"))
    val neighbors = scored.groupBy(col("qid"), col("actual"))
      .agg(topk(col("__cos"), col("nid")).as("__nn"))
      .select(col("qid"), col("actual"),
        explode(col("__nn")).as("__e"))
      .select(col("qid"), col("actual"), col("__e._2").as("nid"))
    val labels = df.select(col(idCol).as("nid"), col(labelCol).as("__nl"))
    val votes = neighbors.join(labels, "nid")
      .groupBy(col("qid"), col("actual"), col("__nl"))
      .agg(count(lit(1)).as("votes"))
    // asc_nulls_last: Spark sorts nulls FIRST on a bare asc while the
    // DuckDB oracle's `ORDER BY votes DESC, nlabel` sorts them LAST —
    // a vote tie involving a null label must pick the same winner on
    // both engines (r16 ADVICE)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("votes").desc,
        col("__nl").asc_nulls_last)
    votes.withColumn("__r", row_number().over(w))
      .where(col("__r") === 1)
      .select(col("qid"), col("actual"), col("__nl").as("predicted"),
        col("votes"))
      .orderBy(col("qid"))
  }
}
