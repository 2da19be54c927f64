package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.exchange.Exchange

class Bm25BatchSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "apple cherry cherry date"),
    (4L, "date elderberry")
  ).toDF("doc_id", "text")

  test("batched ranking equals the single-query ranking per query") {
    val queries = Seq((10L, Seq("apple")), (20L, Seq("cherry", "date")))
      .toDF("qid", "terms")
    val batch = Retrieval.bm25TopKBatch(docs, "text", "doc_id",
        queries, "qid", "terms", k = 4)
      .collect().groupBy(_.getAs[Long]("qid"))
    for ((qid, terms) <- Seq(10L -> Seq("apple"), 20L -> Seq("cherry", "date"))) {
      val single = Retrieval.bm25TopK(docs, "text", "doc_id", terms, k = 4)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      val b = batch(qid).sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      assert(b.toSeq === single.toSeq, s"qid $qid")
    }
  }

  test("absent terms drop out instead of poisoning the score") {
    val queries = Seq((1L, Seq("apple", "zzzmissing"))).toDF("qid", "terms")
    val out = Retrieval.bm25TopKBatch(docs, "text", "doc_id",
        queries, "qid", "terms", k = 4).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("matched_terms") === 1L))
    val alone = Retrieval.bm25TopK(docs, "text", "doc_id", Seq("apple"), k = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(out.sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
      === alone.toSeq)
  }

  test("k bounds each query's list independently") {
    val queries = Seq((1L, Seq("apple")), (2L, Seq("cherry")))
      .toDF("qid", "terms")
    val out = Retrieval.bm25TopKBatch(docs, "text", "doc_id",
      queries, "qid", "terms", k = 1)
    assert(out.groupBy("qid").count().collect().forall(_.getLong(1) === 1L))
  }

  test("query terms are case-folded") {
    val queries = Seq((1L, Seq("APPLE"))).toDF("qid", "terms")
    val out = Retrieval.bm25TopKBatch(docs, "text", "doc_id",
      queries, "qid", "terms", k = 4)
    assert(out.where(col("doc_id") === 1L).count() === 1L)
  }

  // 200 docs; every third shares a long run with its neighbor -> real
  // spans (the plan-shape tests' input)
  private val planDocs = (1 to 200).map { i =>
    val base = s"alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi pi run$i"
    (i.toLong, if (i % 3 == 0) base.replace(s"run$i", s"run${i - 1}") else base)
  }.toDF("doc_id", "text")

  test("plan: inverted index = exactly the two hub-safe shuffles, window+agg share the second") {
    val q = Retrieval.invertedIndex(planDocs, "text", "doc_id",
      maxPostings = 5, minDocFreq = 2)
    q.collect()
    val nodes = allNodes(q.queryExecution.executedPlan)
    // two exchanges is the RIGHT scale shape: (1) the map-side-combined
    // (term, doc_id) aggregate — raw token rows always hit a partial agg
    // before any shuffle, so a hub term ("the" at 100 TB) rides as
    // compacted (term, doc) rows, never a raw flood; (2) redistribution
    // of those compacted rows by term, which the postings window AND the
    // final term aggregate both reuse (no third exchange between them).
    // Pre-partitioning by bare term would save exchange (2) but lose the
    // partial agg — worse at scale.
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.size == 2,
      s"expected 2 exchanges, got ${exchanges.size}:\n${exchanges.mkString("\n")}")
  }

  test("plan: bm25 top-k is a TakeOrdered, never a global sort of all docs") {
    val q = Retrieval.bm25TopK(planDocs, "text", "doc_id", Seq("alpha", "beta"), k = 5)
    q.collect()
    val s = q.queryExecution.executedPlan.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"bm25 top-k lost its TakeOrderedAndProject:\n$s")
  }
}
