package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pack (token-budget sharding / budget curation) + the round-7b text and
  * PQ additions.
  */
class PackSpec extends SparkSpec {
  import spark.implicits._

  test("prefixSum matches a single-task window cumsum (global order)") {
    val df = (1 to 997).map(i => (i.toLong, (i % 13 + 1).toLong)).toDF("id", "w")
    val got = graft.Caches.scoped {
      Pack.prefixSum(df, "w", Seq(col("id")), Nil)
        .select("id", "cum_before").as[(Long, Long)].collect().toMap
    }
    var acc = 0L
    for (i <- 1 to 997) {
      assert(got(i.toLong) == acc, s"id $i")
      acc += (i % 13 + 1).toLong
    }
  }

  test("prefixSum is per-group with partitionCols and null-safe on weights") {
    val df = Seq(("a", 1L, Some(5L)), ("a", 2L, None), ("a", 3L, Some(2L)),
      ("b", 1L, Some(7L)), ("b", 2L, Some(1L)))
      .toDF("g", "id", "w")
    val got = graft.Caches.scoped {
      Pack.prefixSum(df, "w", Seq(col("id")), Seq("g"))
        .select("g", "id", "cum_before").as[(String, Long, Long)]
        .collect().map { case (g, i, c) => (g, i) -> c }.toMap
    }
    assert(got(("a", 1L)) == 0L && got(("a", 2L)) == 5L && got(("a", 3L)) == 5L)
    assert(got(("b", 1L)) == 0L && got(("b", 2L)) == 7L)
  }

  test("packSequences: sequences tile the token stream exactly; docs span boundaries") {
    // weights 7, 10, 3, 12 over seqLen 8: stream of 32 tokens = 4 full seqs
    val df = Seq((1L, 7L), (2L, 10L), (3L, 3L), (4L, 12L), (5L, 0L)).toDF("id", "w")
    val got = graft.Caches.scoped {
      Pack.packSequences(df, "w", Seq(col("id")), 8L)
        .select("seq_idx", "id", "tok_start", "tok_len")
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    }
    // doc offsets: 1->0, 2->7, 3->17, 4->20; zero-weight doc 5 contributes nothing
    assert(got.toSeq == Seq(
      (0L, 1L, 0L, 7L), (0L, 2L, 0L, 1L),            // seq 0: doc1[0,7) + doc2[0,1)
      (1L, 2L, 1L, 8L),                              // seq 1: doc2[1,9)
      (2L, 2L, 9L, 1L), (2L, 3L, 0L, 3L), (2L, 4L, 0L, 4L), // seq 2: tails + doc4 head
      (3L, 4L, 4L, 8L)), s"got ${got.toSeq}")        // seq 3: doc4[4,12)
    // invariants: each sequence sums to exactly seqLen (stream length is a
    // multiple of 8 here), per-doc slices tile [0, w)
    val bySeq = got.groupBy(_._1).view.mapValues(_.map(_._4).sum)
    assert(bySeq.values.forall(_ == 8L), s"$bySeq")
    val byDoc = got.groupBy(_._2)
    Seq(1L -> 7L, 2L -> 10L, 3L -> 3L, 4L -> 12L).foreach { case (id, w) =>
      val slices = byDoc(id).sortBy(_._3)
      assert(slices.head._3 == 0L && slices.map(_._4).sum == w)
      slices.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3, s"doc $id gap")
        case _ =>
      }
    }
  }

  test("plan: packSequences rides the pinned prefix-sum — no single-task window, no extra exchange") {
    val df = (1 to 5000).map(i => (i.toLong, (i % 7 + 1).toLong)).toDF("id", "w")
    val out = graft.Caches.scoped {
      val out = Pack.packSequences(df, "w", Seq(col("id")), 64L)
      out.collect()
      out
    }
    // the range exchange lives inside the pinned RDD lineage (Scan
    // ExistingRDD in the consumer plan — the prefixSum contract); the
    // raw-row cumsum window partitions by physical pid, and the only
    // legitimate SinglePartition exchange is the TINY boundary-carry
    // offset window, which must sit above the per-(group, pid) totals
    // AGGREGATE — never above raw rows
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Nil
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    val nodes = allNodes(out.queryExecution.executedPlan)
    assert(nodes.exists(_.toString.startsWith("Scan ExistingRDD")) ||
      out.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "prefix-sum pin missing")
    val singles = nodes.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }
    singles.foreach { e =>
      assert(allNodes(e).exists(_.isInstanceOf[BaseAggregateExec]),
        s"SinglePartition exchange over NON-aggregated rows:\n$e")
    }
  }

  test("gatherSequences assembles per-sequence tokens in stream order across doc spans") {
    val docs = Seq(
      (1L, Seq("a", "b", "c")),       // off 0
      (2L, Seq("d", "e", "f", "g")),  // off 3, spans seqs 0/1 at seqLen 4
      (3L, Seq("h", "i"))             // off 7, spans seqs 1/2
      ).toDF("id", "tk")
      .withColumn("w", size(col("tk")).cast("long"))
    val slices = Pack.packSequences(docs.select("id", "w"), "w", Seq(col("id")), 4L)
    val got = graft.Caches.scoped {
      Pack.gatherSequences(slices, docs, "id", "tk")
        .select("seq_idx", "tokens").as[(Long, Seq[String])]
        .collect().toMap
    }
    assert(got == Map(
      0L -> Seq("a", "b", "c", "d"),
      1L -> Seq("e", "f", "g", "h"),
      2L -> Seq("i")), s"got $got")
  }

  test("packByBudget: shard boundaries at budget multiples; straddler stays in its first-token shard") {
    val df = Seq((1L, 40L), (2L, 40L), (3L, 40L), (4L, 10L)).toDF("id", "w")
    // budget 100: id1 cum 0 -> shard 0, id2 cum 40 -> 0, id3 cum 80 -> 0
    // (straddles into 100..119), id4 cum 120 -> shard 1
    val got = graft.Caches.scoped {
      Pack.packByBudget(df, "w", Seq(col("id")), 100L)
        .select("id", "shard_id").as[(Long, Long)].collect().toMap
    }
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L))
  }

  test("selectByBudget always keeps the top-ranked row, stops once budget is filled") {
    val df = Seq((1L, 500L, 9.0), (2L, 30L, 5.0), (3L, 30L, 4.0), (4L, 30L, 3.0))
      .toDF("id", "w", "score")
    // budget 50 < top row's own weight: exclusive cumsum keeps id1 (cum 0),
    // drops everything after (cum >= 500)
    val keep1 = graft.Caches.scoped {
      Pack.selectByBudget(df, "w", Seq(col("score").desc, col("id")), 50L)
        .select("id").as[Long].collect().toSet
    }
    assert(keep1 == Set(1L))
    // budget 550: id1 (0) + id2 (500) kept, id3 at 530 kept, id4 at 560 dropped
    val keep2 = graft.Caches.scoped {
      Pack.selectByBudget(df, "w", Seq(col("score").desc, col("id")), 550L)
        .select("id").as[Long].collect().toSet
    }
    assert(keep2 == Set(1L, 2L, 3L))
  }

  test("plan: prefixSum with empty partitionCols never plans a single-partition window over raw rows") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    val df = (1 to 2000).map(i => (i.toLong, 3L)).toDF("id", "w")
    val badGlobal = graft.Caches.scoped {
      val q = Pack.prefixSum(df, "w", Seq(col("id")), Nil)
      q.collect()
      val nodes = allNodes(q.queryExecution.executedPlan)
      val windows = nodes.collect { case w: WindowExec => w }
      assert(windows.nonEmpty)
      // a window with an empty partition spec may only run over the tiny
      // per-partition totals AGGREGATE, never the raw row stream
      windows.filter(w => w.partitionSpec.isEmpty &&
        !allNodes(w).drop(1).exists(_.isInstanceOf[BaseAggregateExec]))
    }
    assert(badGlobal.isEmpty,
      s"single-partition window over raw rows:\n${badGlobal.mkString("\n")}")
  }

  test("boilerplateChunks flags shared chunks, not unique ones") {
    val common = (1 to 8).map(i => s"tpl$i").mkString(" ")
    val docs = Seq(
      (1L, common + " " + (1 to 8).map(i => s"a$i").mkString(" ")),
      (2L, common + " " + (1 to 8).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 16).map(i => s"c$i").mkString(" ")),
      (4L, "too short")).toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateChunks(docs, "text", "doc_id", 8)
      .select("doc_id", "n_chunks", "dup_chunks").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((2L, 1L)) && got(2L) == ((2L, 1L)) && got(3L) == ((2L, 0L)))
    assert(!got.contains(4L), "doc shorter than one chunk must be excluded")
  }

  test("removeBoilerplateChunks drops shared chunks, keeps order and the tail") {
    val common = (1 to 8).map(i => s"tpl$i").mkString(" ")
    val aTokens = (1 to 8).map(i => s"a$i").mkString(" ")
    val docs = Seq(
      (1L, common + " " + aTokens + " trailing bits"), // shared + unique + tail
      (2L, common + " " + (1 to 8).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 16).map(i => s"c$i").mkString(" ")),  // nothing shared
      (4L, "too short")).toDF("doc_id", "text")
    val got = TextAnalysis
      .removeBoilerplateChunks(docs, "text", "doc_id", chunkTokens = 8)
      .select("doc_id", "n_chunks", "removed_chunks", "text_clean")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: the shared template chunk goes, unique chunk + tail survive in order
    assert(got(1L) == ((2L, 1L, aTokens + " trailing bits")))
    assert(got(2L)._2 == 1L && got(2L)._3 == (1 to 8).map(i => s"b$i").mkString(" "))
    // doc 3 untouched; doc 4 below one chunk = pure tail, never removable
    assert(got(3L) == ((2L, 0L, (1 to 16).map(i => s"c$i").mkString(" "))))
    assert(got(4L) == ((0L, 0L, "too short")))
    // detect/apply consistency: removed_chunks == boilerplateChunks' dup_chunks
    val dup = TextAnalysis.boilerplateChunks(docs, "text", "doc_id", 8)
      .select("doc_id", "dup_chunks").as[(Long, Long)].collect().toMap
    dup.foreach { case (id, d) => assert(got(id)._2 == d, s"doc $id") }
  }

  test("tokenEntropy: repeated token = 0 bits, uniform tokens = log2(n)") {
    val docs = Seq((1L, "x x x x"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs, "text", "doc_id")
      .select("doc_id", "entropy").as[(Long, Double)].collect().toMap
    assert(approx(got(1L), 0.0) && approx(got(2L), 2.0))
  }

  test("hashingTf: buckets within [0, dim), counts sum to token count") {
    val docs = Seq((1L, "one two three two one one")).toDF("doc_id", "text")
    val rows = TextAnalysis.hashingTf(docs, "text", "doc_id", 16)
      .select("bucket", "cnt").as[(Long, Long)].collect()
    assert(rows.forall { case (b, _) => b >= 0 && b < 16 })
    assert(rows.map(_._2).sum == 6L)
  }

  test("hashingTfCollisions: histogram covers exactly dim buckets, terms conserved") {
    val docs = Seq((1L, "one two three four five six seven eight"),
      (2L, "one two three again")).toDF("doc_id", "text")
    val dim = 8
    val rows = TextAnalysis.hashingTfCollisions(docs, "text", dim)
      .select("terms_in_bucket", "n_buckets").as[(Long, Long)].collect()
    assert(rows.map(_._2).sum === dim.toLong, "bucket rows must sum to dim")
    // 9 distinct terms total, conserved across the histogram
    assert(rows.map { case (t, n) => t * n }.sum === 9L)
  }

  test("hashingTfCollisions: huge dim leaves mostly-empty buckets (0-row present)") {
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val rows = TextAnalysis.hashingTfCollisions(docs, "text", 1024)
      .select("terms_in_bucket", "n_buckets").as[(Long, Long)].collect().toMap
    assert(rows(0L) >= 1022L)
    assert(rows.values.sum === 1024L)
  }

  test("kmeansIterate converges on separated blobs; empty cluster keeps its seed") {
    // two tight blobs around (0,0) and (100,100); seeds: one per blob plus
    // one far-away seed that captures nothing
    val pts = ((1 to 20).map(i => (i.toLong, Seq(i * 0.01, i * 0.01))) ++
      (21 to 40).map(i => (i.toLong, Seq(100.0 + i * 0.01, 100.0 + i * 0.01))))
      .toDF("vec_id", "e")
    val init = Seq((0L, Seq(1.0, 1.0)), (1L, Seq(99.0, 99.0)), (2L, Seq(-500.0, -500.0)))
    val got = Similarity.kmeansIterate(pts, "vec_id", "e", init, iters = 3)
      .select("id", "cluster_id").as[(Long, Long)].collect().toMap
    assert((1L to 20L).forall(got(_) == 0L))
    assert((21L to 40L).forall(got(_) == 1L))
    // iters = 0 is the plain assignment: far seed still assigns nothing
    val zero = Similarity.kmeansIterate(pts, "vec_id", "e", init, iters = 0)
      .select("cluster_id").as[Long].collect().toSet
    assert(!zero.contains(2L))
  }

  test("pqAssign: a codebook vector assigns to its own codes in every subspace") {
    val vecs = (0L to 9L).map(i =>
      (i, (0 until 8).map(d => (i * 8 + d).toDouble))).toDF("vec_id", "e")
    val codebook = (0L to 3L).map(i =>
      (i, (0 until 8).map(d => (i * 8 + d).toDouble).toSeq))
    val got = Similarity.pqAssign(vecs, "vec_id", "e", codebook, nSub = 4)
      .select("id", "code_0", "code_1", "code_2", "code_3")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
    for (i <- 0L to 3L)
      assert(got(i) == Seq(i, i, i, i), s"codeword $i must self-assign")
    // far vector snaps to the closest codeword (the last one) everywhere
    assert(got(9L) == Seq(3L, 3L, 3L, 3L))
  }
}
