package graft.ext

import graft.SparkSpec
import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.joins.CartesianProductExec

class RetrievalSubstringSpec extends SparkSpec {
  import spark.implicits._

  // ---- exact substring dedup -------------------------------------------

  test("duplicateSpans finds the maximal shared span and nothing else") {
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "z z c d e f g z z z"),
      (3L, "totally unrelated words only here now right")).toDF("doc_id", "text")
    val spans = SubstringDedup.duplicateSpans(df, "text", "doc_id",
        gramTokens = 3, minDocFreq = 2)
      .orderBy("doc_id", "start_tok").collect()
    // shared run "c d e f g": doc1 grams at 2,3,4 -> span [2,6]; doc2 at 2,3,4
    assert(spans.length == 2)
    val byDoc = spans.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(byDoc(1L) == ((2L, 6L, 5L, 3L)))
    assert(byDoc(2L) == ((2L, 6L, 5L, 3L)))
  }

  test("removeDuplicateSpans collapses OVERLAPPING island coverage once") {
    // A's dup gram positions are {0} and {2,3,4} (pos 1 is A-only):
    // coverage [0,2] and [2,6] overlap at token 2 — the whole doc is
    // covered exactly once, never double-counted
    val df = Seq(
      (1L, "x y z p q r s"),
      (2L, "x y z k z p q r s"),
      (3L, "none of these words repeat anywhere else at all")).toDF("doc_id", "text")
    val out = SubstringDedup.removeDuplicateSpans(df, "text", "doc_id",
        gramTokens = 3, minDocFreq = 2)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    val a = out(0)
    assert(a.getLong(1) == 7L && a.getLong(2) == 7L && a.getString(3) == "")
    // doc 2 keeps only its private middle token "k" (pos 3): grams yzk,
    // zkz, kzp are unique to it but xyz covers [0,2] and zpq/pqr/qrs
    // cover [4,8]
    val b = out(1)
    assert(b.getLong(1) == 9L && b.getLong(2) == 8L && b.getString(3) == "k")
    // untouched doc keeps its full (re-tokenized) text
    val c = out(2)
    assert(c.getLong(2) == 0L &&
      c.getString(3) == "none of these words repeat anywhere else at all")
  }

  test("short docs carry no grams and survive removal untouched") {
    val df = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val spans = SubstringDedup.duplicateSpans(df, "text", "doc_id",
      gramTokens = 5, minDocFreq = 2)
    assert(spans.count() == 0)
    val out = SubstringDedup.removeDuplicateSpans(df, "text", "doc_id",
        gramTokens = 5, minDocFreq = 2)
      .orderBy("doc_id").collect()
    assert(out.forall(r => r.getLong(2) == 0L && r.getString(3) == "a b"))
  }

  // ---- inverted index ---------------------------------------------------

  test("invertedIndex caps postings but counts all occurrences") {
    val df = Seq(
      (10L, "spark spark join"), (20L, "spark filter"), (30L, "spark"),
      (40L, "join filter")).toDF("doc_id", "text")
    val idx = Retrieval.invertedIndex(df, "text", "doc_id",
        maxPostings = 2, minDocFreq = 2)
      .orderBy("term").collect()
    val byTerm = idx.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getSeq[Long](3))).toMap
    // "spark": df=3 but postings capped to first 2 doc ids; occurrences=4
    assert(byTerm("spark") == ((3L, 4L, Seq(10L, 20L))))
    assert(byTerm("join") == ((2L, 2L, Seq(10L, 40L))))
    assert(byTerm("filter") == ((2L, 2L, Seq(20L, 40L))))
    assert(!byTerm.contains("")) // hapax pruned: no df=1 terms here anyway
  }

  // ---- BM25 -------------------------------------------------------------

  test("bm25 ranks the term-dense short doc first and drops non-matches") {
    val df = Seq(
      (1L, "spark spark spark runs fast"),
      (2L, "spark appears once in this much longer document about other things entirely"),
      (3L, "nothing relevant here at all"),
      (4L, "spark spark")).toDF("doc_id", "text")
    val top = Retrieval.bm25TopK(df, "text", "doc_id", Seq("spark"), k = 10).collect()
    // doc 3 has no query term -> excluded entirely
    assert(top.map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    // highest tf with shortest length wins; the longest single-hit doc is last
    assert(top.head.getLong(0) == 4L)
    assert(top.last.getLong(0) == 2L)
    assert(top.forall(_.getDouble(1) > 0.0))
    assert(top.forall(_.getLong(2) == 1L))
  }

  test("bm25 multi-term: matched_terms counts distinct query terms hit") {
    val df = Seq(
      (1L, "spark window merge"), (2L, "spark only"),
      (3L, "window window")).toDF("doc_id", "text")
    val top = Retrieval.bm25TopK(df, "text", "doc_id",
      Seq("spark", "window", "merge"), k = 3).collect()
    val m = top.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    assert(top.head.getLong(0) == 1L) // three matched terms outscore one
  }

  // ---- ORC round trip ---------------------------------------------------

  test("ORC write/read round-trips schema and rows") {
    val df = Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, null.asInstanceOf[String], 0.0))
      .toDF("id", "name", "score")
    val p = java.nio.file.Files.createTempDirectory("graft_orc").toString + "/t.orc"
    Sources.writeOrc(df, p)
    val back = Sources.readOrc(spark, p)
    // file-format round trips widen nullability — names/types must hold
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // extension dispatch reaches the ORC reader
    assert(Sources.readAny(spark, p).count() == 3)
  }

  // ---- streaming term stats (r12) --------------------------------------

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("termStatsWindowed: stream (complete mode) equals the batch result") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (ts("2024-01-01 10:01:00"), 1L, "spark join spark filter"),
      (ts("2024-01-01 10:07:00"), 2L, "join window join"),
      (ts("2024-01-01 11:02:00"), 3L, "spark window"))
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = Retrieval.termStatsWindowed(
        mem.toDF.toDF("ts", "doc_id", "text"), "text", "doc_id", "ts",
        windowDuration = "10 minutes", watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("ts_stream")
      .outputMode("complete").start()
    mem.addData(rows.take(2)); q.processAllAvailable()
    mem.addData(rows.drop(2)); q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))
    val streamed = spark.table("ts_stream").collect().map(key).toSet
    val batch = Retrieval.termStatsWindowed(
        rows.toDF("ts", "doc_id", "text"), "text", "doc_id", "ts",
        windowDuration = "10 minutes")
      .collect().map(key).toSet
    assert(streamed == batch)
    // spot-check semantics: doc_freq counts docs, occurrences counts
    // tokens — "join" appears in doc 1 (x1) and doc 2 (x2), same window
    val w1000 = batch.filter(t => t._1 == ts("2024-01-01 10:00:00") && t._2 == "join")
    assert(w1000 == Set((ts("2024-01-01 10:00:00"), "join", 2L, 3L)))
  }

  test("termStatsWindowed: update mode drops documents behind the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = Retrieval.termStatsWindowed(
        mem.toDF.toDF("ts", "doc_id", "text"), "text", "doc_id", "ts",
        windowDuration = "10 minutes", watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("ts_late")
      .outputMode("update").start()
    mem.addData((ts("2024-01-01 10:01:00"), 1L, "spark join"),
      (ts("2024-01-01 10:02:00"), 2L, "spark"))
    q.processAllAvailable()
    // advances the watermark to 11:55 — the 10:00 window is closed
    mem.addData((ts("2024-01-01 12:00:00"), 3L, "spark"))
    q.processAllAvailable()
    // late doc inside the closed window: must be DROPPED, not aggregated
    mem.addData((ts("2024-01-01 10:03:00"), 4L, "spark spark"))
    q.processAllAvailable(); q.stop()
    val w10 = spark.table("ts_late").collect()
      .filter(r => r.getTimestamp(0) == ts("2024-01-01 10:00:00")
        && r.getString(1) == "spark")
    // update mode re-emits a key on change; the late doc would have shown
    // up as a (doc_freq=3, occurrences=4) re-emission
    assert(w10.nonEmpty)
    assert(w10.map(r => (r.getLong(2), r.getLong(3))).max == ((2L, 2L)))
  }

  test("substringSearch: gram pre-filter is lossless, crosses token boundaries, short queries fall back") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "The Catalyst optimizer rewrites logical plans aggressively"),
      (2L, "catalyst OPTIMIZER rewrites nothing here"),     // case-insensitive hit
      (3L, "an entirely different body of text"),
      (4L, "optimizer rewr")                                 // partial only
    ).toDF("doc_id", "text")
    // query crosses a token boundary ("r r") — no token index can serve it
    val q = "optimizer rewrites"
    val got = Retrieval.substringSearch(docs, "text", "doc_id", q)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val direct = docs
      .select(col("doc_id"), instr(lower(col("text")), q).as("pos"))
      .where(col("pos") > 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == direct && got.keySet == Set(1L, 2L), s"got $got direct $direct")
    // below-k query: direct-scan fallback, same contract
    val short = Retrieval.substringSearch(docs, "text", "doc_id", "rewr")
      .collect().map(_.getLong(0)).toSet
    assert(short == Set(1L, 2L, 4L))
  }

  test("rrfFuse: exact reciprocal-rank scores, both-list docs outrank single-list ones") {
    import org.apache.spark.sql.functions._
    // list A ranks 10,20,30; list B ranks 20,40 — doc 20 is in both
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), "id", k = 10, c = 60)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.map(_._1).toSeq === Seq(20L, 10L, 40L, 30L))
    def rr(ranks: Long*) = BigDecimal(ranks.map(r => 1.0 / (60.0 + r)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val m = out.map(t => t._1 -> t._2).toMap
    assert(m(20L) === rr(2L, 1L))
    assert(m(10L) === rr(1L))
    assert(m(40L) === rr(2L))
    assert(out.find(_._1 == 20L).get._3 === 2L)
    // k truncates deterministically
    assert(Retrieval.rrfFuse(Seq(a, b), "id", k = 2).count() === 2L)
  }

  // ---- plan shape -----------------------------------------------------

  // 200 docs; every third shares a long run with its neighbor -> real
  // spans (the plan-shape tests' input)
  private val planDocs = (1 to 200).map { i =>
    val base = s"alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi pi run$i"
    (i.toLong, if (i % 3 == 0) base.replace(s"run$i", s"run${i - 1}") else base)
  }.toDF("doc_id", "text")

  test("plan: substring dedup joins on gram hash — no cartesian product anywhere") {
    val nodes = graft.Caches.scoped {
      val q = SubstringDedup.removeDuplicateSpans(planDocs, "text", "doc_id",
        gramTokens = 5, minDocFreq = 2)
      q.collect()
      allNodes(q.queryExecution.executedPlan)
    }
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
      "substring dedup planned a cartesian product")
  }
}
