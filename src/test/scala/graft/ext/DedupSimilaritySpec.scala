package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again " * 5
  private val nearDup = base.replace("lazy", "sleepy") // one-token diff, high Jaccard
  private val unrelated = "completely different content about spark shuffles and joins " * 5

  test("exact dedup keeps one row per fingerprint, smallest id wins") {
    val df = Seq((3L, "Hello  World"), (1L, "hello world"), (2L, "other")).toDF("id", "text")
    val out = Dedup.exactCanonical(df, "text", "id").orderBy("id")
    // fingerprint normalizes case+whitespace: doc 3 is a dup of doc 1
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L, 2L))
  }

  test("minhash LSH finds the crafted near-dup pair and not the unrelated one") {
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    // 8 bands of 2 rows: collision prob at j=0.6 is 1-(1-0.36)^8 ~ 0.97
    // (4 bands of 4 would be a coin flip at this similarity)
    val pairs = Dedup.nearDupMinhash(df, "text", "doc_id",
      numHashes = 16, bands = 8, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs(0).getAs[Double]("jaccard") > 0.5)
  }

  test("minhash LSH candidates never invent pairs and recall high-similarity ones") {
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated),
      (4L, base + " tail extra"), (5L, "tiny")).toDF("doc_id", "text")
    // rows-per-band = 2 targets high recall at j >= 0.5 (1-(1-j^2)^8)
    val lsh = Dedup.nearDupMinhash(df, "text", "doc_id",
      numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val bruteAll = Dedup.jaccardAllPairs(df, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.subsetOf(bruteAll.keySet)) // verification step: no false positives, ever
    // recall check on the pairs banding is tuned for (deterministic md5 -> stable)
    val strong = bruteAll.filter(_._2 >= 0.7).keySet
    assert(strong.subsetOf(lsh), s"missed strong pairs: ${strong -- lsh}; lsh=$lsh brute=$bruteAll")
  }

  test("simhash: near-dups are close in Hamming distance, unrelated docs far") {
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val sig = Dedup.simhash(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)))
    assert(ham(sig(1L), sig(2L)) <= 6)
  }

  test("cosine top-k: identical vector ranks first with cos 1.0") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(-1.0f, 0.0f, 0.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, "vec_id", "embedding", Seq(1.0, 0.0, 0.0), 3).collect()
    assert(top(0).getLong(0) == 1L && approx(top(0).getDouble(1), 1.0))
    assert(top(1).getLong(0) == 2L)
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("ANN LSH bucket contains the identical vector (self-recall)") {
    val dims = 8
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(dims)(d => math.sin(i * 31 + d).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs(7)._2.map(_.toDouble).toSeq
    val top = Similarity.annTopK(df, "vec_id", "embedding", q, 1, planes = 4).collect()
    assert(top.nonEmpty && top(0).getLong(0) == 7L && approx(top(0).getDouble(1), 1.0, 1e-6))
  }

  test("LSH semantic decontamination: exact copies recalled, flags a subset of the exact path") {
    val dims = 8
    // eval set: 4 benchmark vectors; corpus: exact copies of each (must be
    // flagged — identical vectors share every bucket), plus far vectors
    val evals = (0 until 4).map { i =>
      (100L + i, Array.tabulate(dims)(d => math.sin(i * 131 + d * 17).toFloat))
    }
    val copies = evals.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    val far = (10 until 40).map { i =>
      (i.toLong, Array.tabulate(dims)(d => math.cos(i * 997 + d * 61).toFloat))
    }
    val corpus = (copies ++ far).toDF("vec_id", "embedding")
    val evalDf = evals.toDF("vec_id", "embedding")
    val exact = Similarity.decontaminateSemantic(
      corpus, evalDf, "vec_id", "embedding", tau = 0.99).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.decontaminateSemanticLsh(
      corpus, evalDf, "vec_id", "embedding", tau = 0.99,
      planes = 4, dims = dims).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every exact copy is recalled (identical vector -> identical bucket)
    assert(copies.map(_._1).forall(lsh.contains), s"missed copies: $lsh")
    // flagged set is a subset of the exact path's, with max_cos <= exact's
    assert(lsh.keySet.subsetOf(exact.keySet))
    assert(lsh.forall { case (id, c) => c <= exact(id) + 1e-9 })
  }

  test("nearDupPairs finds duplicate embeddings within LSH buckets") {
    val vecs = Seq(
      (1L, Array(0.5f, 0.5f, 0.1f, 0.9f)), (2L, Array(0.5f, 0.5f, 0.1f, 0.9f)),
      (3L, Array(-0.5f, 0.2f, -0.8f, 0.1f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.nearDupPairs(df, "vec_id", "embedding", planes = 3, dims = 4, minCosine = 0.999)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("dedup-apply never force-broadcasts the kept-id relation (anti-join on losers)") {
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val kept = Dedup.applyNearDupDedup(docs, "text", "doc_id",
      numHashes = 16, bands = 8, threshold = 0.5)
    // the kept-id set is corpus-sized at scale: the plan must not contain a
    // broadcast HINT anywhere (AQE may still choose broadcast for the small
    // dropped side — that's the point), and the corpus filter is a LeftAnti
    val analyzed = kept.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint") && !analyzed.contains("UnresolvedHint"),
      s"forced broadcast hint found in dedup-apply plan:\n$analyzed")
    assert(kept.queryExecution.optimizedPlan.toString.contains("LeftAnti"),
      "expected an anti-join on the dropped-id set")
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))

    val scores = Seq((1L, 0.1), (2L, 0.9), (3L, 0.5)).toDF("doc_id", "score")
    val best = Dedup.applyNearDupDedupByScore(docs, "text", "doc_id", scores, "score",
      numHashes = 16, bands = 8, threshold = 0.5)
    val analyzedB = best.queryExecution.analyzed.toString
    assert(!analyzedB.contains("ResolvedHint") && !analyzedB.contains("UnresolvedHint"),
      s"forced broadcast hint found in by-score dedup-apply plan:\n$analyzedB")
    assert(best.select("doc_id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("LSH mega-bucket cap bounds candidates and keeps normal pairs") {
    // 40 identical boilerplate docs = one mega bucket in EVERY band; a real
    // near-dup pair lives outside it
    val boiler = (1L to 40L).map(i => (i, "standard legal disclaimer text repeated verbatim " * 4))
    val df = (boiler ++ Seq((100L, base), (101L, nearDup))).toDF("doc_id", "text")
    val uncapped = Dedup.nearDupMinhash(df, "text", "doc_id",
      numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 40 * 39 / 2 + 1) // full quadratic blow-up + the real pair
    val capped = Dedup.nearDupMinhash(df, "text", "doc_id",
      numHashes = 16, bands = 8, threshold = 0.5, maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L)),
      s"cap should drop mega-bucket pairs, keep the real near-dup: $capped")
    // a cap larger than any bucket is a no-op
    val loose = Dedup.nearDupMinhash(df, "text", "doc_id",
      numHashes = 16, bands = 8, threshold = 0.5, maxBucketSize = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(loose == uncapped)
  }

  test("jaccardJoinPrefix at k=5 equals brute-force all-pairs (low-entropy text)") {
    // templated docs from a tiny vocabulary — the corpus shape where k=3
    // shingles are never rare and the prefix filter degenerates; k=5 must
    // still be EXACT (identical pair set to the all-pairs scan)
    val vocab = Array("data", "spark", "pipeline", "query", "join", "shuffle")
    val docs = (1L to 30L).map { i =>
      val words = (0 until 12).map(j => vocab(((i * 7 + j * 3 + j * j) % 6).toInt))
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.jaccardJoinPrefix(docs, "text", "doc_id",
        threshold = 0.5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exp = Dedup.jaccardAllPairs(docs, "text", "doc_id", k = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == exp.keySet,
      s"prefix join must be exact: got ${got.keySet} expected ${exp.keySet}")
    exp.foreach { case (p, j) => assert(approx(got(p), j)) }
  }

  test("semDedup groups transitively within clusters and keeps min id") {
    // cluster 1 (x-direction): 1 ~ 2 (cos≈1), 2 ~ 3 (cos≈1) — 1-2-3 is ONE
    // group even if 1~3 were below tau (transitivity); 4 is x-ish but
    // nearly orthogonal (below tau). cluster 2 (y-direction): 5 alone.
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.999, 0.04, 0.0)),
      (3L, Seq(0.995, 0.09, 0.0)),
      (4L, Seq(0.5, 0.0, 0.86)),
      (5L, Seq(0.0, 1.0, 0.0))
    ).toDF("vec_id", "e")
    val cents = Seq((1L, Seq(1.0, 0.0, 0.0)), (5L, Seq(0.0, 1.0, 0.0)))
    val out = graft.Caches.scoped {
      Similarity.semDedup(vecs, "vec_id", "e", cents, tau = 0.95)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    }
    assert(out(1L) == (1L, 1) && out(2L) == (1L, 0) && out(3L) == (1L, 0),
      s"1-2-3 must be one group keeping 1: $out")
    assert(out(4L) == (4L, 1) && out(5L) == (5L, 1), s"singletons keep: $out")
  }
}
