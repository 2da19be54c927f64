package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Caches
import graft.ext.{Dedup, Pack, Similarity, SubstringDedup, TextAnalysis}
import graft.ml.Models
import graft.ops.{Clean, Eda, Preprocess}
import graft.pipeline.Pipeline
import graft.sources.{AvroSink, Sources}

object Workloads {
  /** Every span the workloads record; a traced run reports all of them. */
  val allSpans: Seq[String] = Seq(
    // etl_harmonize
    "sources.read", "pipeline.run", "ops.eda", "ml.train", "sources.avro_sink",
    // ann_serve
    "ext.similarity.build", "ext.similarity.search", "ext.similarity.insert",
    "ext.similarity.load",
    // llm_curate (which also writes through sources.avro_sink)
    "ext.text.quality", "ext.dedup.exact", "ext.dedup.spans", "ext.dedup.minhash",
    "ext.text.decontam", "ext.pack")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def ints(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  /** Committed graft-avro files and bytes under a sink's target. */
  def observeSink(tr: Tracer, dir: String): Unit = if (tr.on) {
    val files = Main.avroFiles(dir)
    tr.observe("sources.avro_sink.files", files.size)
    tr.observe("sources.avro_sink.bytes", files.map(_.length).sum.toDouble)
  }
}
import Workloads._

/** The reference's own flow: read ~6 heterogeneous files, harmonize and
  * clean them, describe them, train a decision tree on a planted label,
  * write the result through the graft-avro sink.
  */
final class EtlHarmonize(spark: SparkSession, tr: Tracer, data: String, work: String,
    m: JsonNode, corrupt: Boolean) extends Workload {
  private val files = m.get("files").elements().asScala
    .map(f => s"$data/${f.get("name").asText}").toSeq
  private val rows = m.get("rows").asLong
  private val classes = m.get("classes").asInt
  private val numeric = Seq("rec_id", "amount", "qty", "score", "rate", "segment")
  private val features = Seq("amount", "qty", "score", "rate")
  private val outDir = s"$work/etl_out"
  /** Decision-tree accuracy floor: the planted label is ~43% majority class. */
  private val accuracyFloor = 0.6

  def mainKind = "job"
  def digestKey(i: Int) = "job"
  /** No warm-up: the first job of the JVM is the one measured, as a
    * batch ETL job launched per run pays its own start-up.
    */
  def prepare(): Unit = ()

  def op(i: Int): Op = Caches.scoped {
    val ((out, stats, corr, hist, accuracy), sec) = timed {
      val dfs = tr.span("sources.read") { files.map(p => Sources.readAny(spark, p)) }
      // labelEncode reads its input twice (codes, then the join back), so
      // the z-scored frame must be materialized first: re-evaluated, its
      // floating-point aggregates can land on other last bits and the
      // join on the code keys then drops rows
      val out = tr.stage("pipeline.run", keep = true) {
        val harmonized = graft.Caches.register(Pipeline.run(dfs, _ => col("rec_id")).persist())
        Preprocess.labelEncode(harmonized, "segment", "label")
      }
      val numCols = numeric.filter(out.columns.contains)
      val (stats, corr, hist) = tr.span("ops.eda") {
        (Clean.summaryStats(out, numCols).collect(),
          Eda.corrMatrix(out, features).collect(),
          Eda.histogram(out, "amount", 20).collect())
      }
      val metrics = tr.span("ml.train") {
        val assembled = Models.assemble(out.select((features :+ "label").map(col): _*), "label")
        Models.trainModels(spark, assembled, isClassification = true,
          include = Set("decision_tree")).collect()
      }
      tr.span("sources.avro_sink") { AvroSink.write(out, outDir, overwrite = true) }
      observeSink(tr, outDir)
      val accuracy = metrics.find(_.getString(1) == "accuracy").map(_.getDouble(2)).getOrElse(0.0)
      (out, stats, corr, hist, accuracy)
    }
    val problems = check(if (corrupt) out.withColumn("amount", col("amount") * 2) else out,
      accuracy)
    // the tree's accuracy is left out: Models.split's randomSplit follows
    // the partition layout, which the range partitioner's sampling varies
    // between runs; it is checked against a floor instead
    val digest = Main.sha((stats ++ corr ++ hist).map(_.toString))
    Op("job", sec, rows, digest, problems)
  }

  private def check(out: DataFrame, accuracy: Double): Seq[String] = {
    val p = Seq.newBuilder[String]
    val zCols = numeric.filter(out.columns.contains)
    val aggs = Seq(count(lit(1)), countDistinct(col("label")), min(col("label")),
      max(col("label"))) ++ zCols.flatMap(c => Seq(avg(col(c)), stddev_pop(col(c)),
      sum(when(col(c).isNull || isnan(col(c)) ||
        col(c).cast("double").isin(Double.PositiveInfinity, Double.NegativeInfinity), 1)
        .otherwise(0))))
    val r = out.agg(aggs.head, aggs.tail: _*).head()
    if (r.getLong(0) != rows) p += s"row count ${r.getLong(0)} != input rows $rows"
    zCols.zipWithIndex.foreach { case (c, j) =>
      val (mu, sd, bad) = (r.getDouble(4 + 3 * j), r.getDouble(5 + 3 * j), r.getLong(6 + 3 * j))
      if (math.abs(mu) > 1e-6 || math.abs(sd - 1.0) > 1e-6) p += f"$c not z-scored: mean $mu%.3g std $sd%.6f"
      if (bad != 0) p += s"$c has $bad null/NaN/inf values"
    }
    // dense codes 0..n-1: n distinct values spanning exactly [0, n-1]
    if (r.getLong(1) != classes || r.getLong(2) != 0 || r.getLong(3) != classes - 1)
      p += s"label codes are not 0..${classes - 1}: ${r.getLong(1)} distinct in [${r.get(2)}, ${r.get(3)}]"
    if (accuracy < accuracyFloor) p += f"decision-tree accuracy $accuracy%.3f < $accuracyFloor"
    val written = spark.read.format("graft-avro").load(outDir).count()
    if (written != rows) p += s"avro sink holds $written rows, expected $rows"
    p.result()
  }

  def finish(): (Map[String, Any], Seq[String]) = (Map.empty, Nil)
  def avroBytesPerRow: Double = Main.avroBytes(outDir).toDouble / rows
}

/** Serve a persisted two-level ANN index: seeded query batches, with an
  * incremental insert (and reload) as op 0, `insertEvery`, ...; the search
  * after an insert queries the inserted vectors.
  */
final class AnnServe(spark: SparkSession, tr: Tracer, data: String, work: String,
    m: JsonNode, corrupt: Boolean) extends Workload {
  private val queries: IndexedSeq[Seq[Long]] =
    m.get("queries").elements().asScala.map(ints).toIndexedSeq
  private val batches = m.get("insert_batches").asInt
  private val insertEvery = 4
  private val k = 10
  private val recallFloor = 0.9
  private val dir = s"$work/ann_index"
  private val base = spark.read.parquet(s"$data/vectors.parquet")
  private val inserts = spark.read.parquet(s"$data/inserts.parquet")
  private val centroids: Seq[(Long, Seq[Double])] =
    spark.read.parquet(s"$data/centroids.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
  private var inserted = 0
  private var pendingSelf: Seq[Long] = Nil
  private var index: Similarity.HierIndex = _
  private var indexBytesPerRow = 0.0

  private def corpus: DataFrame =
    base.unionByName(inserts.where(col("batch") < inserted).select("vec_id", "e"))

  /** An insert and the three searches after it (the first checks the
    * insert): the search mean is then over three samples however slow
    * the host.
    */
  override def minOps = insertEvery
  private val auditSize = 4
  private var audit: Seq[Long] = Nil
  private var auditFound: Map[Long, Set[Long]] = Map.empty
  private var auditInserted = 0
  def mainKind = "knn"
  def digestKey(i: Int) = s"op$i"
  override def traceSetup = true

  def prepare(): Unit = {
    tr.span("ext.similarity.build") {
      Similarity.persistIndexHier(corpus, "vec_id", "e", centroids, nCells = 4, graphK = 8, dir)
    }
    index = tr.span("ext.similarity.load") { Similarity.loadIndexHier(spark, dir) }
    observeSink(tr, dir)
    indexBytesPerRow = Main.avroBytes(dir).toDouble / base.count()
    search(queries.last) // warm-up
  }

  private def search(qids: Seq[Long]): Array[Row] =
    Similarity.beamSearchKnnHier(corpus, "vec_id", "e", index, col("vec_id").isin(qids: _*),
      k = k, nProbe = 4, beamWidth = 8, hops = 6).collect()

  def op(i: Int): Op = Caches.scoped {
    if (i % insertEvery == 0 && inserted < batches) {
      val batch = inserts.where(col("batch") === inserted).select("vec_id", "e")
      val ids = batch.select("vec_id").collect().map(_.getLong(0)).toSeq
      val before = corpus
      val (_, sec) = timed {
        tr.span("ext.similarity.insert") {
          Similarity.insertIndexHier(before, batch, "vec_id", "e", graphK = 8, dir)
        }
        index = tr.span("ext.similarity.load") { Similarity.loadIndexHier(spark, dir) }
      }
      inserted += 1
      pendingSelf = ids
      Op("insert", sec, ids.size, Main.sha(ids.map(_.toString)), Nil)
    } else {
      // the search after an insert queries the inserted vectors
      val qids = if (pendingSelf.nonEmpty) pendingSelf else queries(i % queries.size)
      pendingSelf = Nil
      val (res, sec) = timed { tr.span("ext.similarity.search") { search(qids) } }
      val rows = if (corrupt) res.filter(r => r.getLong(0) != r.getLong(2)) else res
      val found = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      if (audit.isEmpty) { // recall of the first search is audited at run end
        audit = qids.take(auditSize)
        auditFound = found
        auditInserted = inserted
      }
      val missing = qids.filterNot(q => found.get(q).exists(_.contains(q)))
      val problems =
        if (missing.isEmpty) Nil
        else Seq(s"${missing.size} of ${qids.size} query vectors did not find themselves")
      Op("knn", sec, qids.size, Main.sha(rows.map(_.toString).sorted), problems)
    }
  }

  /** recall@k of the first search against exact brute force over the
    * corpus it searched.
    */
  def finish(): (Map[String, Any], Seq[String]) = Caches.scoped {
    val c = base.unionByName(inserts.where(col("batch") < auditInserted).select("vec_id", "e"))
    val vecs = c.where(col("vec_id").isin(audit: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val recalls = audit.map { q =>
      val exact = Similarity.bruteForceTopK(c, "vec_id", "e", vecs(q), k).collect()
        .map(_.getLong(0)).toSet
      auditFound.getOrElse(q, Set.empty[Long]).intersect(exact).size.toDouble / exact.size
    }
    val recall = recalls.sum / recalls.size
    val problems = if (recall < recallFloor) Seq(f"recall@$k $recall%.3f < $recallFloor") else Nil
    (Map("knn_recall_at_10" -> recall, "inserted_batches" -> inserted), problems)
  }

  def avroBytesPerRow: Double = indexBytesPerRow
}

/** Curate one seeded document batch per op: quality filter, exact dedup,
  * boilerplate-span removal, MinHash near-dup dedup, benchmark
  * decontamination, sequence packing, graft-avro write.
  */
final class LlmCurate(spark: SparkSession, tr: Tracer, data: String, work: String,
    m: JsonNode, corrupt: Boolean) extends Workload {
  private val batches = m.get("batches").elements().asScala.toIndexedSeq
  private val seqLen = m.get("seq_len").asLong
  private val outDir = s"$work/curate_out"
  /** Share of planted near-duplicate pairs that must collapse to one doc
    * (MinHash LSH misses a pair now and then by design).
    */
  private val nearFloor = 0.9
  /** Boilerplate spans recur in hundreds of docs; near-dup clusters in two. */
  private val spanMinDocs = 20L
  private var lastBytesPerRow = 0.0

  def mainKind = "batch"
  def digestKey(i: Int) = s"batch${Math.floorMod(i, batches.size)}"
  def prepare(): Unit = op(-1) // warm-up batch

  def op(i: Int): Op = Caches.scoped {
    val b = batches(Math.floorMod(i, batches.size))
    val docs = spark.read.parquet(s"$data/${b.get("file").asText}")
    val evalSet = spark.read.parquet(s"$data/eval.parquet")
    val ((kept, packed), sec) = timed {
      val q = tr.stage("ext.text.quality") { TextAnalysis.qualityFilter(docs, "text") }
      val ex = tr.stage("ext.dedup.exact") { Dedup.exactCanonical(q, "text", "doc_id") }
      val sp = tr.stage("ext.dedup.spans", keep = true) {
        SubstringDedup.removeDuplicateSpans(ex, "text", "doc_id", minDocFreq = spanMinDocs)
      }
      val nd = tr.stage("ext.dedup.minhash") { Dedup.applyNearDupDedup(sp, "text_clean", "doc_id") }
      val kept = tr.stage("ext.text.decontam", keep = true) {
        val bad = TextAnalysis.contaminatedDocs(nd, "text_clean", "doc_id", evalSet, "text")
        nd.join(bad, Seq("doc_id"), "left_anti")
      }
      val packed = tr.stage("ext.pack") {
        Pack.packSequences(kept.select(col("doc_id"),
          (col("n_tokens") - col("removed_tokens")).as("n_tok")),
          "n_tok", Seq(col("doc_id")), seqLen)
      }
      tr.span("sources.avro_sink") { AvroSink.write(packed, outDir, overwrite = true) }
      observeSink(tr, outDir)
      (kept, packed)
    }
    val survivors = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val seqs = packed.groupBy("seq_idx").agg(sum("tok_len").as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val written = spark.read.format("graft-avro").load(outDir).count()
    lastBytesPerRow = Main.avroBytes(outDir).toDouble / math.max(1L, written)
    val exactGroups = b.get("exact_groups").elements().asScala.map(ints).toSeq
    // corrupt: a planted exact duplicate slips through
    val seen = if (corrupt && exactGroups.nonEmpty) survivors ++ exactGroups.head else survivors
    val problems = check(b, seen, seqs, written, exactGroups)
    val digest = Main.sha(survivors.toSeq.sorted.map(_.toString) ++ seqs.map(_.toString))
    Op("batch", sec, b.get("docs").asLong, digest, problems)
  }

  private def check(b: JsonNode, kept: Set[Long], seqs: Seq[(Long, Long)], written: Long,
      exactGroups: Seq[Seq[Long]]): Seq[String] = {
    val p = Seq.newBuilder[String]
    val exactBad = exactGroups.count(g => g.count(kept) != 1)
    if (exactBad > 0) p += s"$exactBad planted exact-duplicate groups do not leave exactly one doc"
    val near = b.get("near_groups").elements().asScala.map(ints).toSeq
    val nearOk = near.count(g => g.count(kept) == 1)
    if (near.nonEmpty && nearOk < nearFloor * near.size)
      p += s"only $nearOk of ${near.size} planted near-dup clusters leave one doc"
    val contam = ints(b.get("contaminated")).count(kept)
    if (contam > 0) p += s"$contam planted contaminated docs survived"
    val junk = ints(b.get("low_quality")).count(kept)
    if (junk > 0) p += s"$junk planted low-quality docs survived"
    val over = seqs.count(_._2 > seqLen)
    if (over > 0) p += s"$over packed sequences exceed $seqLen tokens"
    if (written < kept.size) p += s"avro sink holds $written rows for ${kept.size} docs"
    p.result()
  }

  def finish(): (Map[String, Any], Seq[String]) = (Map.empty, Nil)
  def avroBytesPerRow: Double = lastBytesPerRow
}
