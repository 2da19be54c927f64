package graft.ops

import graft.SparkSpec
import graft.ext.TextAnalysis
import org.apache.spark.sql.functions._

/** Round-7 additions: deterministic k-per-group sampling, truncated EWMA,
  * last-touch attribution, compression-ratio quality signal.
  */
class Round7OpsSpec extends SparkSpec {
  import spark.implicits._

  test("sampleKPerGroup: exactly k rows per group, stable across repartition") {
    val df = (1L to 200L).map(i => (s"g${i % 4}", i)).toDF("g", "id")
    val a = Sampling.sampleKPerGroup(df, Seq("g"), "id", 5)
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = Sampling.sampleKPerGroup(df.repartition(7), Seq("g"), "id", 5)
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b, "selection must be a pure function of the data")
    assert(a.groupBy(_._1).forall(_._2.size == 5))
  }

  test("sampleKPerGroup: groups smaller than k come back whole") {
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "id")
    assert(Sampling.sampleKPerGroup(df, Seq("g"), "id", 10).count() == 3L)
  }

  test("compressionStats: boilerplate compresses below prose, junk above it") {
    val rep = "spam ham " * 200                      // highly repetitive
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders into a quiet meadow where nothing much happens afterwards " * 8
    // deterministic high-entropy text: chained md5 hex blocks
    val junk = Iterator.iterate("seed") { s =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }.drop(1).take(50).mkString
    val df = Seq((1L, rep), (2L, prose), (3L, junk)).toDF("doc_id", "text")
    val m = TextAnalysis.compressionStats(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("compress_ratio")).toMap
    assert(m(1L) < m(2L) && m(2L) < m(3L),
      s"expected rep < prose < junk, got $m")
    assert(m(1L) < 0.1, s"boilerplate should compress hard, got ${m(1L)}")
  }

  test("compressionStats: empty and null docs yield null ratio, not errors") {
    val df = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val rows = TextAnalysis.compressionStats(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.isNullAt(r.fieldIndex("compress_ratio"))).toMap
    assert(rows(1L) && rows(2L))
  }

  test("q_window_ewma golden: hand-computed 3-point series") {
    // one event_type, three days with revenues 1, 2, 4:
    //   d1: 1
    //   d2: (2 + 0.5*1) / 1.5            = 5/3
    //   d3: (4 + 0.5*2 + 0.25*1) / 1.75  = 3.0
    val ev = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      ("a", java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 2.0),
      ("a", java.sql.Timestamp.valueOf("2024-01-03 10:00:00"), 4.0))
      .toDF("event_type", "ts", "value")
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(28,6)")).cast("double").as("rev"))
    val got = Resample.ewma(daily, "rev", "day", Seq("event_type"))
      .select(col("day"), col("rev_ewma"))
      .orderBy("day").collect().map(_.getDouble(1))
    assert(approx(got(0), 1.0) && approx(got(1), 5.0 / 3.0) && approx(got(2), 3.0))
  }

  test("Resample.ewma skips nulls (pandas ignore_na) and honors alpha") {
    val df = Seq((1, Some(10.0)), (2, None), (3, Some(4.0)))
      .toDF("i", "v")
    // at i=3 with alpha=0.75: (4 + 0.0625*10)/(1 + 0.0625) — the null at
    // i=2 contributes NO weight, but lag distance still decays
    val got = Resample.ewma(df, "v", "i", Nil, alpha = 0.75, lags = 3)
      .orderBy("i").collect().map(r => Option(r.getAs[Double]("v_ewma")))
    assert(approx(got(0).get, 10.0))
    assert(approx(got(1).get, 10.0)) // only the lagged 10 contributes
    assert(approx(got(2).get, (4.0 + 0.0625 * 10.0) / 1.0625))
  }

  test("sweep-line concurrency golden: max overlapping 30-min intervals") {
    // type a: events at 10:00, 10:10, 10:20 -> all three overlap at 10:20
    // type b: events at 10:00 and 10:30 -> end(10:30) sorts before the new
    //         start, so adjacent intervals never overlap: max 1
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      ("a", t("2024-01-01 10:00:00")), ("a", t("2024-01-01 10:10:00")),
      ("a", t("2024-01-01 10:20:00")),
      ("b", t("2024-01-01 10:00:00")), ("b", t("2024-01-01 10:30:00")))
      .toDF("event_type", "ts")
    val pts = ev.select(col("event_type"), col("ts").as("t"), lit(1).as("d"))
      .unionByName(ev.select(col("event_type"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("t"), lit(-1).as("d")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("t"), col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val got = pts.withColumn("c", sum(col("d")).over(w))
      .groupBy("event_type").agg(max(col("c")).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 3L, "b" -> 1L))
  }

  test("jaccardJoinPrefix equals brute-force all-pairs shingle Jaccard") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),   // shares 3 of the shingles
      (3L, "alpha beta gamma delta epsilon zeta"),  // exact dup of 1
      (4L, "one two three four five six seven"),
      (5L, "one two three four five nine ten"),     // prefix overlap with 4
      (6L, "completely different words over here today"),
      (7L, "alpha beta"))                           // too short for k=3
      .toDF("doc_id", "text")
    val got = graft.ext.Dedup
      .jaccardJoinPrefix(docs, "text", "doc_id", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute-force reference on the driver (word 3-shingle sets)
    def sh(s: String): Set[String] =
      s.split("\\s+").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val tk = docs.collect().map(r => r.getLong(0) -> sh(r.getString(1)))
      .filter(_._2.nonEmpty).toMap
    val exp = (for {
      a <- tk.keys; b <- tk.keys if a < b
      j = tk(a).intersect(tk(b)).size.toDouble / tk(a).union(tk(b)).size
      if j >= 0.3
    } yield (a, b) -> j).toMap
    assert(got.keySet == exp.keySet, s"got ${got.keySet} expected ${exp.keySet}")
    exp.foreach { case (k, j) => assert(approx(got(k), j)) }
  }

  test("jaccardJoinPrefix keeps pairs whose Jaccard EQUALS the threshold exactly") {
    // A: 7 tokens -> 5 shingles; B: first 6 tokens -> 4 shingles, all
    // shared. J = 4/5 = 0.8 — representable, and equal to the 0.8 double
    // threshold. The unslacked prefix/length bounds would prune this pair
    // (0.8*5 rounds to 4.0000000000000002 > 4).
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7"),
      (2L, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val got = graft.ext.Dedup
      .jaccardJoinPrefix(docs, "text", "doc_id", threshold = 0.8)
      .collect()
    assert(got.length == 1 && got.head.getDouble(2) == 0.8)
  }

  test("quantileNormalizeBy: equal within-group ranks map to equal global values") {
    // two sources with the same shape but shifted locations: after
    // normalization, the i-th smallest of A equals the i-th smallest of B
    val df = ((1 to 10).map(i => ("a", i.toDouble)) ++
      (1 to 10).map(i => ("b", i + 100.0))).toDF("src", "v")
    val out = Preprocess.quantileNormalizeBy(df, "v", Seq("src"), gridK = 10)
      .select("src", "v", "v_qnorm").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val byRank = out.groupBy(_._1).map { case (s, rows) =>
      s -> rows.sortBy(_._2).map(_._3).toSeq
    }
    assert(byRank("a") == byRank("b"),
      s"shifted distributions must normalize identically: $byRank")
    // normalized values live inside the global value range
    assert(out.forall(r => r._3 >= 1.0 && r._3 <= 110.0))
  }

  test("quantileNormalizeBy: null values pass through as null") {
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", None),
      ("b", Some(5.0))).toDF("src", "v")
    val out = Preprocess.quantileNormalizeBy(df, "v", Seq("src"))
      .where(col("v").isNull).select("v_qnorm").collect()
    assert(out.length == 1 && out.head.isNullAt(0))
  }

  test("triangleCount: K4 has 4, star has 0, direction/dups/self-loops ignored") {
    // K4 on {1,2,3,4} with messy input: reversed duplicates + a self-loop
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 2L), (4L, 4L)).toDF("src", "dst")
    val r = graft.ext.Graph.triangleCount(k4).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (4L, 6L, 4L))
    // star: hub 0 to 9 leaves — many wedges, zero triangles
    val star = (1L to 9L).map(i => (0L, i)).toDF("src", "dst")
    assert(graft.ext.Graph.triangleCount(star).head().getLong(2) == 0L)
  }

  test("ksDrift equals a driver-side exact two-sample KS on random data") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { i =>
      val k = s"s${i % 3}"
      // source s0 shifted: drift should be detected
      val v = math.floor(rnd.nextDouble() * 20).toInt + (if (k == "s0") 10 else 0)
      (k, v.toDouble)
    }
    val df = rows.toDF("src", "v")
    val got = Quality.ksDrift(df, "v", "src").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    // driver reference
    val byK = rows.groupBy(_._1)
    val allV = rows.map(_._2).distinct.sorted
    val exp = byK.map { case (k, g) =>
      val mine = g.map(_._2)
      val rest = rows.filterNot(_._1 == k).map(_._2)
      val d = allV.map { v =>
        math.abs(mine.count(_ <= v).toDouble / mine.size -
          rest.count(_ <= v).toDouble / rest.size)
      }.max
      k -> BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    exp.foreach { case (k, d) => assert(approx(got(k), d, 1e-9), s"$k: ${got(k)} vs $d") }
    assert(got("s0") > got("s1") && got("s0") > got("s2"),
      "the shifted source must show the largest drift")
  }

  test("asofForwardTolerance nulls matches beyond the tolerance, keeps within") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val probe = Seq((1L, 10L, t("2024-01-01 10:00:00")),
      (2L, 20L, t("2024-01-01 10:00:00"))).toDF("id", "u", "ts")
    val ref = Seq((10L, t("2024-01-01 10:20:00"), 5.0),
      (20L, t("2024-01-01 11:00:00"), 7.0)).toDF("u", "ts", "v")
    val got = Joins.asofForwardTolerance(probe, ref, Seq("u"), "ts", Seq("v"),
        toleranceSeconds = 1800L)
      .collect().map(r => r.getLong(0) -> Option(r.getAs[java.lang.Double]("asof_v"))).toMap
    assert(got(1L).contains(5.0))  // 20 min ahead: within 30-min tolerance
    assert(got(2L).isEmpty)        // 60 min ahead: nulled
  }

  test("systematicByWeight: ~n PPS rows, heavy rows certain, stable across repartition") {
    // 100 rows of weight 1 plus one row of weight 100: W=200, n=10, step=20
    val df = ((1L to 100L).map(i => (i, 1L)) :+ (101L, 100L)).toDF("id", "w")
    val got = Sampling.systematicByWeight(df, "w", Seq(col("id")), 10)
      .select("id").as[Long].collect().toSet
    assert(got.contains(101L), "a row with w >= step must always be selected")
    // unit-weight rows at each crossed multiple of 20; the weight-100 row
    // absorbs the remaining five boundaries into ONE selection
    assert(got == Set(20L, 40L, 60L, 80L, 100L, 101L), s"got $got")
    val again = Sampling.systematicByWeight(df.repartition(7), "w", Seq(col("id")), 10)
      .select("id").as[Long].collect().toSet
    assert(got == again, "selection must be a pure function of the data")
    // zero-weight rows can never cross a step boundary
    val withZero = (df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq :+ (999L, 0L))
      .toDF("id", "w")
    val z = Sampling.systematicByWeight(withZero, "w", Seq(col("id")), 10)
      .select("id").as[Long].collect().toSet
    assert(!z.contains(999L))
  }

  test("asofNearest picks the closer side; exact ties go backward") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val probe = Seq(
      (1L, 10L, t("2024-01-01 10:00:00")), // back 10:00-09:50=10m, fwd 10:05-10:00=5m -> fwd
      (2L, 10L, t("2024-01-01 09:52:00")), // back 2m, fwd 13m -> back
      (3L, 10L, t("2024-01-01 10:10:00")), // only back exists -> back
      (4L, 20L, t("2024-01-01 10:00:00")), // exact tie 5m both sides -> BACKWARD
      (5L, 30L, t("2024-01-01 10:00:00"))  // no ref rows at all -> null
    ).toDF("id", "u", "ts")
    val ref = Seq(
      (10L, t("2024-01-01 09:50:00"), 1.0),
      (10L, t("2024-01-01 10:05:00"), 2.0),
      (20L, t("2024-01-01 09:55:00"), 3.0),
      (20L, t("2024-01-01 10:05:00"), 4.0)
    ).toDF("u", "ts", "v")
    val got = Joins.asofNearest(probe, ref, Seq("u"), "ts", Seq("v"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble)).toMap
    assert(got(1L).contains(2.0), "forward row is strictly closer")
    assert(got(2L).contains(1.0), "backward row is strictly closer")
    assert(got(3L).contains(2.0), "only a backward row exists -> backward")
    assert(got(4L).contains(3.0), "exact-distance tie must go backward")
    assert(got(5L).isEmpty, "no ref rows -> null match")
  }

  test("mmrSelect penalizes near-duplicates of already-selected results") {
    // q = (1, 0); a and a2 are near-identical high-relevance vectors;
    // b is slightly less relevant but diverse. Pure relevance ranks
    // (a, a2); MMR must pick (a, b).
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)),       // a:  cos(q) = 1.0
      (2L, Seq(0.999, 0.0447)),  // a2: cos(q) ~ 0.999
      (3L, Seq(0.7, 0.714)))     // b:  cos(q) ~ 0.7
      .toDF("id", "emb")
    val got = graft.ext.Similarity
      .mmrSelect(vecs, "id", "emb", Seq(1.0, 0.0), k = 2, lambda = 0.5,
        candidatePool = 3)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 3L), s"expected diverse pick (1, 3), got $got")
    // sanity: pure-relevance top-2 WOULD have been (1, 2)
    val rel = graft.ext.Similarity
      .bruteForceTopK(vecs, "id", "emb", Seq(1.0, 0.0), 2)
      .collect().map(_.getLong(0)).toSeq
    assert(rel == Seq(1L, 2L))
  }

  test("plan: new round-7 queries never plan a cartesian product") {
    for (q <- Seq("q_dedup_jaccard_prefix", "q_events_attribution",
        "q_events_rfm", "q_events_concurrency", "q_sample_pergroup")) {
      val plan = graft.Caches.scoped(graft.SparkEntry.queries(q)(spark,
        "/root/testdata/sf0.001").queryExecution.executedPlan.toString)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian:\n$plan")
    }
  }

  test("last-touch attribution golden: credits the nearest preceding touch") {
    val ev = Seq(
      // user 1: click -> view -> purchase(10) => credited to view
      (1L, 100L, "2024-01-01 09:00:00", "click", 0.0),
      (2L, 100L, "2024-01-01 10:00:00", "view", 0.0),
      (3L, 100L, "2024-01-01 11:00:00", "purchase", 10.0),
      // user 2: purchase with no prior touch => null channel
      (4L, 200L, "2024-01-01 08:00:00", "purchase", 7.0),
      (5L, 200L, "2024-01-01 09:00:00", "click", 0.0))
      .map { case (e, u, t, k, v) => (e, u, java.sql.Timestamp.valueOf(t), k, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val touches = ev.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_type").as("channel"))
    val got = Joins.asof(purchases, touches, Seq("user_id"), "ts", Seq("channel"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[String]("asof_channel"))).toMap
    assert(got(3L).contains("view") && got(4L).isEmpty)
  }

  test("mergeAggStates == direct aggregate, including null and disjoint keys") {
    val base = Seq((Some("a"), 1.0), (Some("a"), 2.5), (None, 4.0))
      .toDF("k", "v")
    val delta = Seq((Some("a"), 10.0), (Some("b"), 7.0), (None, 1.0))
      .toDF("k", "v")
    val merged = Merge.mergeAggStates(
      Merge.aggState(base, Seq("k"), "v"),
      Merge.aggState(delta, Seq("k"), "v"), Seq("k"))
    val direct = Merge.aggState(base.unionByName(delta), Seq("k"), "v")
    val m = merged.collect().map(r => Option(r.getString(0)) ->
      ((r.getLong(1), r.getDecimal(2).doubleValue, r.getDouble(3), r.getDouble(4)))).toMap
    val d = direct.collect().map(r => Option(r.getString(0)) ->
      ((r.getLong(1), r.getDecimal(2).doubleValue, r.getDouble(3), r.getDouble(4)))).toMap
    assert(m == d)
    assert(m(Some("b")) == ((1L, 7.0, 7.0, 7.0)), "delta-only key must survive")
    assert(m(None) == ((2L, 5.0, 1.0, 4.0)), "null-key groups must merge")
  }

  test("zorderValue: golden interleave and quadrant locality") {
    val df = Seq((3L, 1L), (0L, 0L), (1L, 0L), (0L, 1L), (65536L + 3L, 1L))
      .toDF("x", "y")
    val z = df.select(Layout.zorderValue(col("x"), col("y"), 16).as("z"))
      .as[Long].collect()
    // x=0b11,y=0b01: x0->bit0, y0->bit1, x1->bit2 => 0b0111 = 7
    assert(z(0) == 7L && z(1) == 0L && z(2) == 1L && z(3) == 2L)
    assert(z(4) == 7L, "keys wrap modulo 2^bits")
    // locality: all points in the low-quadrant [0,256)^2 sort before any
    // point with either coordinate >= 256 in the high quadrant
    val lowMax = (1L << 32) - 1
    val inLow = Seq((255L, 255L), (0L, 255L), (255L, 0L))
      .toDF("x", "y").select(Layout.zorderValue(col("x"), col("y"), 16).as("z"))
      .as[Long].collect()
    assert(inLow.forall(_ < (1L << 16)), s"low quadrant stays in low z range")
    val high = Seq((256L, 256L)).toDF("x", "y")
      .select(Layout.zorderValue(col("x"), col("y"), 16).as("z")).as[Long].head()
    assert(high >= (1L << 16) && high <= lowMax)
  }

  test("psiDrift: identical samples score ~0, a shifted sample scores high") {
    val ref = (1 to 1000).map(i => i.toDouble).toDF("v")
    val same = Quality.psiDrift(ref, ref, "v", bins = 10)
      .select("psi_term").as[Double].collect()
    assert(same.length == 10 && same.forall(t => math.abs(t) < 1e-9))
    // current sample pushed entirely into the top half of the range
    val shifted = (1 to 1000).map(i => 500.0 + i / 2.0).toDF("v")
    val terms = Quality.psiDrift(ref, shifted, "v", bins = 10)
      .select("psi_term").as[Double].collect()
    assert(terms.sum > 0.5, s"PSI ${terms.sum} should flag a strong shift")
  }
}
