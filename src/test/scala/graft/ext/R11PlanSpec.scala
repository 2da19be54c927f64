package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions._

/** Plan-shape assertions for the round-11 operators: the structural
  * properties that make them survive 100× data, asserted against the
  * EXECUTED (post-AQE) plan.
  */
class R11PlanSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (1 to 200).map { i =>
    // every third doc shares a long run with its neighbor -> real spans
    val base = s"alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi pi run$i"
    (i.toLong, if (i % 3 == 0) base.replace(s"run$i", s"run${i - 1}") else base)
  }.toDF("doc_id", "text")

  test("plan: substring dedup joins on gram hash — no cartesian product anywhere") {
    val nodes = graft.Caches.scoped {
      val q = SubstringDedup.removeDuplicateSpans(docs, "text", "doc_id",
        gramTokens = 5, minDocFreq = 2)
      q.collect()
      allNodes(q.queryExecution.executedPlan)
    }
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
      "substring dedup planned a cartesian product")
  }

  test("plan: inverted index = exactly the two hub-safe shuffles, window+agg share the second") {
    val q = Retrieval.invertedIndex(docs, "text", "doc_id",
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
    val q = Retrieval.bm25TopK(docs, "text", "doc_id", Seq("alpha", "beta"), k = 5)
    q.collect()
    val s = q.queryExecution.executedPlan.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"bm25 top-k lost its TakeOrderedAndProject:\n$s")
  }

  test("plan: JL projection is a pure narrow map — zero exchanges") {
    val emb = (1 to 50).map(i => (i.toLong, Array.tabulate(8)(j => (i + j).toFloat)))
      .toDF("vec_id", "embedding")
    val q = DimReduce.randomProject(emb, "vec_id", "embedding", 8, 4)
    q.collect()
    val nodes = allNodes(q.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[Exchange]),
      "randomProject introduced a shuffle")
  }
}
