package graft.ext

import graft.SparkSpec
import graft.ops.Resample
import org.apache.spark.sql.functions._

/** Round-4 operator additions: PII redaction, repetition stats, simhash
  * banded near-dup, time-series resample with gap filling.
  */
class Round4OpsSpec extends SparkSpec {
  import spark.implicits._

  test("redactPii replaces emails, phones, and IPs and leaves prose alone") {
    val df = Seq(
      (1L, "write to alice.smith+spam@mail.example.org for info"),
      (2L, "call 555-123-4567 or 555 1234 4567 now"),
      (3L, "server at 192.168.0.1 responded"),
      (4L, "plain text with numbers 12345 and version 1.2 stays")).toDF("id", "t")
    val out = df.select(col("id"), TextAnalysis.redactPii(col("t")).as("r"))
      .orderBy("id").collect().map(_.getString(1))
    assert(out(0) == "write to <EMAIL> for info")
    assert(out(1) == "call <PHONE> or <PHONE> now")
    assert(out(2) == "server at <IP> responded")
    assert(out(3) == "plain text with numbers 12345 and version 1.2 stays")
  }

  test("repetitionStats finds the dominant token; ties break lexicographically") {
    val df = Seq(
      (1L, "spam spam spam ham"),       // top = spam, 3/4
      (2L, "b a b a")).toDF("doc_id", "text") // tie 2-2 -> 'a'
    val r = TextAnalysis.repetitionStats(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(r(0).getAs[String]("top_term") == "spam"
      && approx(r(0).getAs[Double]("top_share"), 0.75))
    assert(r(1).getAs[String]("top_term") == "a"
      && approx(r(1).getAs[Double]("top_share"), 0.5))
    assert(r(0).getAs[Long]("n_tokens") == 4L)
  }

  test("nearDupSimhash equals the brute-force all-pairs scan (guaranteed recall)") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val banded = Dedup.nearDupSimhash(docs, "text", "doc_id", bands = 4, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sig = Dedup.simhash(docs, "text", "doc_id")
    val a = sig.select(col("id").as("id_a"), col("simhash").as("sa"))
    val b = sig.select(col("id").as("id_b"), col("simhash").as("sb"))
    val brute = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.hamming(col("sa"), col("sb")).cast("int").as("dist"))
      .where(col("dist") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty, "test vacuous: no pairs within distance 3")
  }

  test("nearDupSimhash rejects parameters that break the recall guarantee") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.nearDupSimhash(docs, "text", "doc_id", bands = 4, maxDist = 4)
    }
  }

  test("chunkedHashes splits payloads into indexed fixed-length chunks") {
    val text130 = "x" * 130
    val df = Seq((1L, text130), (2L, "short"), (3L, "")).toDF("doc_id", "t")
    val out = Multimodal.chunkedHashes(df, "t", "doc_id", 64)
      .orderBy("id", "chunk_idx").collect()
    val byId = out.groupBy(_.getLong(0))
    assert(byId(1L).length == 3 && byId(1L).forall(_.getAs[Int]("n_chunks") == 3))
    assert(byId(2L).length == 1 && byId(3L).length == 1) // empty -> one empty chunk
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(byId(1L)(0).getAs[String]("chunk_md5") == md5hex("x" * 64))
    assert(byId(1L)(2).getAs[String]("chunk_md5") == md5hex("x" * 2))
    assert(byId(3L)(0).getAs[String]("chunk_md5") == md5hex(""))
  }

  test("l2Normalize yields unit vectors; zero vectors pass through") {
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)),
      (2L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.l2Normalize(df, "vec_id", "embedding")
      .orderBy("id").collect()
    val u1 = out(0).getSeq[Double](1)
    assert(approx(u1(0), 0.6) && approx(u1(1), 0.8))
    assert(out(1).getSeq[Double](1) == Seq(0.0, 0.0))
  }

  test("unionWidened promotes conflicting column types like pandas concat") {
    import graft.ops.Harmonize
    val a = Seq((1, 2.5)).toDF("k", "v")                       // int, double
    val b = Seq((2L, 3)).toDF("k", "v")                        // long, int
    val c = Seq(("x", 4)).toDF("k", "v")                       // string, int
    val numeric = Harmonize.unionWidened(Seq(a, b))
    assert(numeric.schema("k").dataType.typeName == "long")    // int ∪ long -> long
    assert(numeric.schema("v").dataType.typeName == "double")  // double ∪ int -> double
    assert(numeric.count() == 2)
    val stringy = Harmonize.unionWidened(Seq(a, c))
    assert(stringy.schema("k").dataType.typeName == "string")  // int ∪ string -> string
  }

  test("fuzzyMatchBlocked equals the brute-force cross join (blocking is complete)") {
    import graft.ops.Harmonize
    val n = graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")
    val mutated = n.select(concat(col("n_name"), lit("X")).as("m_name"))
    val blocked = Harmonize.fuzzyMatchBlocked(n, "n_name", mutated, "m_name", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val brute = n.select(col("n_name").as("l_val")).distinct()
      .crossJoin(mutated.select(col("m_name").as("r_val")).distinct())
      .withColumn("dist", levenshtein(col("l_val"), col("r_val")))
      .where(col("dist") <= 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(blocked == brute && brute.nonEmpty)
    // every nation matches its own single-char mutation at distance 1
    assert(brute.count(_._3 == 1) >= 25)
  }

  test("dropConstantCols drops constants, keeps null-variant and varying columns") {
    import graft.ops.Clean
    val df = Seq(
      (1L, 5.0, Some(1.0), "x"),
      (2L, 5.0, None, "y")).toDF("id", "konst", "nullvar", "s")
    val out = Clean.dropConstantCols(df)
    assert(out.columns.toSeq == Seq("id", "nullvar", "s"))
    // strict mode: null-variant counts as constant too
    val strict = Clean.dropConstantCols(df, keepNullVariants = false)
    assert(strict.columns.toSeq == Seq("id", "s"))
  }

  test("outlierFlags flags only sigma-rule violations; constant columns never flag") {
    import graft.ops.Preprocess
    val df = ((1 to 99).map(_ => (5.0, 1.0)) :+ (100.0, 1.0)).toDF("v", "const")
    val out = Preprocess.outlierFlags(df, Seq("v", "const"), zThresh = 3.0)
    assert(out.where(col("v_outlier")).count() == 1)   // only the 100.0 spike
    assert(out.where(col("const_outlier")).count() == 0) // zero variance -> no flags
  }

  test("upsert replaces matched keys and passes unmatched rows through") {
    import graft.ops.Merge
    val cur = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "name", "v")
    val upd = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    val out = Merge.upsert(cur, upd, Seq("k")).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged incl. null transitions") {
    import graft.ops.Merge
    val old = Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, Some(3.0)), (5L, None))
      .toDF("k", "v")
    val neu = Seq((1L, Some(1.0)), (2L, Some(9.0)), (4L, Some(4.0)), (5L, Some(5.0)))
      .toDF("k", "v")
    val out = Merge.snapshotDiff(old, neu, Seq("k"), Seq("v"))
      .orderBy("k").collect().map(r => r.getLong(0) -> r.getAs[String]("change_type")).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "changed")) // null -> 5.0 must be 'changed'
  }

  test("dupNgramRatio measures internal repetition; short docs score 0") {
    val df = Seq(
      (1L, "a b c a b c a b c"),  // 7 trigrams, 3 distinct -> 4/7 repeats
      (2L, "all distinct words here now"), // 3 trigrams, all distinct -> 0
      (3L, "too short")).toDF("doc_id", "text")
    val out = TextAnalysis.dupNgramRatio(df, "text", "doc_id", 3)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 7L && approx(out(0).getDouble(2), 1.0 - 3.0 / 7, 1e-6))
    assert(out(1).getDouble(2) == 0.0)
    assert(out(2).getLong(1) == 0L && out(2).getDouble(2) == 0.0)
  }

  test("applyNearDupDedupByScore keeps the best-scored doc per cluster, min-id on ties") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (10L, base), (11L, base + " ok"), (12L, base + " yes"), // one cluster
      (20L, "completely different text about spark catalyst optimizer internals plans")
    ).toDF("doc_id", "text")
    val scores = Seq((10L, 0.1), (11L, 0.9), (12L, 0.9), (20L, 0.5))
      .toDF("doc_id", "quality")
    val kept = Dedup.applyNearDupDedupByScore(docs, "text", "doc_id",
      scores, "quality", threshold = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 11 and 12 tie at 0.9 -> smaller id 11 wins; 20 is a singleton
    assert(kept == Set(11L, 20L), s"kept=$kept")
  }

  test("pageRank: mass conserved, hub outranks leaves, runs are identical") {
    val edges = Seq((1L, 2L), (3L, 2L), (4L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = (1L to 5L).toDF("id") // 5 is isolated (dangling)
    def run() = Graph.pageRank(edges, nodes, "id", iters = 10)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val r = run()
    val byId = r.toMap
    assert(math.abs(r.map(_._2).sum - 5.0) < 1e-9, s"mass not conserved: $r")
    // the 1<->2 cycle concentrates mass: both outrank the leaf nodes 3/4
    // (which only receive the dangling redistribution + base rank)
    assert(byId(1L) > byId(3L) && byId(2L) > byId(3L), s"unexpected order: ${r.toSeq}")
    assert(byId(3L) == byId(4L)) // symmetric leaves
    assert(r.toSeq == run().toSeq) // fixed iterations -> fully deterministic
    // deterministic tier (fixed-point long sums): same ranks up to the
    // 1e-9 quantization compounded over 10 iterations (a few 1e-9 steps;
    // far below the 1e-6 output grid), and bit-identical across runs
    def runDet() = Graph.pageRank(edges, nodes, "id", iters = 10,
        deterministic = true)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val rd = runDet()
    r.zip(rd).foreach { case ((i1, v1), (i2, v2)) =>
      assert(i1 == i2 && math.abs(v1 - v2) < 1e-7, s"tier drift: $i1 $v1 $v2")
    }
    assert(rd.toSeq == runDet().toSeq)
  }

  test("upsert is idempotent and snapshotDiff(x, x) is all-unchanged") {
    import graft.ops.Merge
    val cur = graft.Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .select("c_custkey", "c_acctbal")
    val upd = cur.where(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"), (col("c_acctbal") * 2).as("c_acctbal"))
    val once = Merge.upsert(cur, upd, Seq("c_custkey"))
    val twice = Merge.upsert(once, upd, Seq("c_custkey"))
    assert(once.orderBy("c_custkey").collect().toSeq
      == twice.orderBy("c_custkey").collect().toSeq)
    val d = Merge.snapshotDiff(cur, cur, Seq("c_custkey"), Seq("c_acctbal"))
    assert(d.where(col("change_type") =!= "unchanged").isEmpty)
  }

  test("resampleGapFill emits zero-count rows for empty bins and matches direct agg") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600000L)
    // key "a": events in hours 0, 0, 3 -> bins 1 and 2 are gaps
    val df = Seq(("a", ts(0), 2.0), ("a", ts(0), 4.0), ("a", ts(3), 6.0),
      ("b", ts(1), 1.0)).toDF("k", "ts", "value")
    val out = Resample.resampleGapFill(df, "ts", Seq("k"), "value", 3600L)
      .orderBy("k", "bin_start").collect()
    val aRows = out.filter(_.getString(0) == "a")
    assert(aRows.length == 4) // hours 0..3 inclusive
    assert(aRows(0).getAs[Long]("n_events") == 2L
      && approx(aRows(0).getAs[Double]("avg_value"), 3.0))
    assert(aRows(1).getAs[Long]("n_events") == 0L && aRows(1).isNullAt(3))
    assert(aRows(2).getAs[Long]("n_events") == 0L)
    assert(aRows(3).getAs[Long]("n_events") == 1L
      && approx(aRows(3).getAs[Double]("avg_value"), 6.0))
    assert(out.count(_.getString(0) == "b") == 1)
  }

  test("incrementalDedup drops exact-vs-corpus, within-batch exact, and near-dup docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog in the morning"),
      (2L, "completely different corpus text about spark engines and data processing"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog in the morning"), // exact vs corpus
      (11L, "some unique new document about machine learning pipelines"), // keeper
      (12L, "some unique new document about machine learning pipelines"), // within-batch exact
      (13L, "the quick brown fox jumps over the lazy dog in the morning today"), // near-dup of corpus 1
      (14L, "another fresh doc entirely unlike anything else present here today friends"), // keeper
      (15L, "another fresh doc entirely unlike anything else present here today my friends")) // near-dup of 14
      .toDF("doc_id", "text")
    val out = graft.ext.Dedup.incrementalDedup(batch, corpus, "text", "doc_id")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(11L, 14L))
  }
  test("degreeHistogram / assortativity / shortestHops on a crafted graph") {
    // path 1-2-3-4 plus disconnected edge 5-6
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val hist = graft.Caches.scoped {
      Graph.degreeHistogram(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(hist == Map(1L -> 4L, 2L -> 2L)) // ends 1,4,5,6 deg1; middle 2,3 deg2
    // the path+island mix cancels to exactly 0; a star is the clean
    // disassortative case (hub links only to leaves)
    val a = graft.Caches.scoped(Graph.assortativity(edges).head())
    assert(a.getLong(0) == 6L && a.getLong(1) == 4L)
    assert(a.getDouble(2) == 0.0)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val as = graft.Caches.scoped(Graph.assortativity(star).head().getDouble(2))
    assert(as == -1.0, s"star assortativity must be -1, got $as")
    // BFS from node 2 (max degree, min id on the tie with 3), 2 hops:
    // the whole path is reached; the 5-6 island is not
    val hops = graft.Caches.scoped {
      Graph.shortestHops(edges, maxHops = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(hops == Map(2L -> 0L, 1L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("harmonicCentrality: hand-computed scores, unreachable islands contribute 0") {
    // star 0-(1,2,3,4) plus chain 4-5, plus a disconnected island 8-9:
    // top-2 degrees -> sources 0 (deg 4) and 4 (deg 2)
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (4L, 5L),
      (8L, 9L)).toDF("src", "dst")
    val out = graft.Caches.scoped {
      Graph.harmonicCentrality(edges, maxHops = 3, nSources = 2)
        .collect().map(r => r.getLong(0) ->
          ((r.getAs[Long]("n_reached"), r.getAs[Double]("harmonic")))).toMap
    }
    // H(0) = 4/1 (nodes 1-4) + 1/2 (node 5) = 4.5; island unreached
    assert(out(0L) === ((5L, 4.5)))
    // H(4) = 2/1 (0, 5) + 3/2 (1, 2, 3) = 3.5
    assert(out(4L) === ((5L, 3.5)))
  }

  test("shortestHops tolerates Int-typed node ids (r12 advice)") {
    // an Int-keyed edge frame used to ClassCastException on getLong and
    // break the Long-typed seed union; ids are now cast to long up front
    val edges = Seq((1, 2), (2, 3)).toDF("src", "dst")
    val hops = graft.Caches.scoped {
      Graph.shortestHops(edges, maxHops = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(hops == Map(2L -> 0L, 1L -> 1L, 3L -> 1L))
  }

  test("graph ops reject string node ids loudly (r13 advice)") {
    // cast('long') on a string id column yields NULLs, silently collapsing
    // the graph; the guard must fail fast with the offending column name
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val nodes = Seq("a", "b", "c").toDF("id")
    val e1 = intercept[IllegalArgumentException](Graph.shortestHops(edges, 2))
    assert(e1.getMessage.contains("src"))
    val e2 = intercept[IllegalArgumentException](Graph.triangleCount(edges))
    assert(e2.getMessage.contains("integral"))
    val e3 = intercept[IllegalArgumentException](
      Graph.pageRank(edges, nodes, "id"))
    assert(e3.getMessage.contains("integral"))
  }
}
