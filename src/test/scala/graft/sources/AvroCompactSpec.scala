package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r18: compaction execution — multi-file bins rewrite into one
  * container each, all committed in one file-set swap; data identity,
  * file-count-equals-plan, idempotence, and both crash-recovery paths
  * of the swap's `.graft-rlo-` manifest.
  */
class AvroCompactSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft_avro_cmp").toString

  private val conf = new org.apache.hadoop.conf.Configuration()

  private def contents(dir: String): Seq[String] =
    spark.read.format("graft-avro").load(dir)
      .collect().map(_.toString).sorted.toSeq

  test("compaction merges small files, preserves data, and is idempotent") {
    val dir = tempDir()
    // 8 small containers of ~uniform size
    AvroSink.write(spark.range(800).select(col("id"), (col("id") % 7).as("v"))
      .repartition(8), dir, overwrite = true)
    assert(AvroDsv2.listFiles(dir, conf).size === 8)
    val before = contents(dir)
    val bins = graft.ops.Layout.compact(dir, Long.MaxValue / 4)
    val after = AvroDsv2.listFiles(dir, conf)
    assert(bins === 1 && after.size === 1,
      s"expected 1 compacted container, got ${after.size} (bins=$bins)")
    assert(after.forall(_._1.contains("compact-")),
      s"compacted names expected: ${after.map(_._1)}")
    assert(contents(dir) === before, "compaction must preserve every row")
    // sidecars regenerated: metadata count(*) still pushes down exactly
    val agg = spark.read.format("graft-avro").load(dir).groupBy().count()
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-only"))
    assert(agg.collect().head.getLong(0) === 800L)
    // idempotent: a single-file bin is a no-op, nothing rewrites
    val mid = AvroDsv2.listFiles(dir, conf).toMap
    assert(graft.ops.Layout.compact(dir, Long.MaxValue / 4) === 0)
    assert(AvroDsv2.listFiles(dir, conf).toMap === mid)
  }

  test("bin count follows the plan rule; at-target files are not churned") {
    val dir = tempDir()
    AvroSink.write(spark.range(800).select(col("id"), (col("id") % 7).as("v"))
      .repartition(8), dir, overwrite = true)
    val files = AvroDsv2.listFiles(dir, conf)
    val totalBytes = files.map(_._2).sum
    // target = half the table -> the nfd rule bins the 8 files into 2
    val target = totalBytes / 2 + 1
    val bins = graft.ops.Layout.compact(dir, target)
    val after = AvroDsv2.listFiles(dir, conf)
    assert(bins === 2 && after.size === 2,
      s"expected 2 compacted containers, got ${after.size} (bins=$bins)")
    // repeated compaction CONVERGES: any further run either merges the
    // (now sub-target) outputs once more or no-ops; after at most two
    // more runs the state is a fixed point
    graft.ops.Layout.compact(dir, target)
    graft.ops.Layout.compact(dir, target)
    val stable = AvroDsv2.listFiles(dir, conf).toMap
    assert(graft.ops.Layout.compact(dir, target) === 0)
    assert(AvroDsv2.listFiles(dir, conf).toMap === stable)
    assert(spark.read.format("graft-avro").load(dir).count() === 800L)
  }

  test("compaction respects partition directories") {
    val dir = tempDir()
    val df = spark.range(600).select(col("id"),
      concat(lit("L"), (col("id") % 2).cast("string")).as("lang"))
    // several containers per partition value: partitioned writes now
    // cluster by lang (one container per value per write), so stack
    // three APPENDS to get three files per partition directory
    AvroSink.writePartitioned(df.where(col("id") < 200), dir, Seq("lang"),
      overwrite = true)
    AvroSink.writePartitioned(
      df.where(col("id") >= 200 && col("id") < 400), dir, Seq("lang"))
    AvroSink.writePartitioned(df.where(col("id") >= 400), dir, Seq("lang"))
    val filesBefore = AvroDsv2.listFiles(dir, conf)
    assert(filesBefore.size > 2, filesBefore.toString)
    val before = contents(dir)
    graft.ops.Layout.compact(dir, Long.MaxValue / 4)
    val after = AvroDsv2.listFiles(dir, conf)
    assert(after.size === 2, s"one container per partition dir: $after")
    assert(after.forall { case (p, _) => p.contains("lang=") })
    assert(contents(dir) === before)
    // partition pruning still works on the compacted layout
    assert(spark.read.format("graft-avro").load(dir)
      .where(col("lang") === "L1").count() === 300L)
  }

  test("compaction merges evolved schemas with null-fill") {
    val dir = tempDir()
    AvroSink.write(spark.range(50).select(col("id")).coalesce(1), dir,
      overwrite = true)
    AvroSink.write(spark.range(50, 100)
      .select(col("id"), (col("id") * 2).as("v")).coalesce(1), dir)
    graft.ops.Layout.compact(dir, Long.MaxValue / 4)
    assert(AvroDsv2.listFiles(dir, conf).size === 1)
    val back = spark.read.format("graft-avro").load(dir)
    assert(back.columns.toSeq === Seq("id", "v"))
    assert(back.count() === 100L)
    assert(back.where(col("v").isNull).count() === 50L,
      "old-schema rows must null-fill the appended column")
    assert(back.where(col("v") === col("id") * 2).count() === 50L)
  }

  /** A crashed swap's root-level manifest: root-relative adds/removes. */
  private def writeRlo(dir: String, opId: String, adds: Seq[String],
      removes: Seq[String]): org.apache.hadoop.fs.Path = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val m = om.createObjectNode()
    val aArr = m.putArray("adds"); adds.foreach(a => aArr.add(a))
    val rArr = m.putArray("removes"); removes.foreach(r => rArr.add(r))
    val mp = new org.apache.hadoop.fs.Path(dir,
      s".graft-rlo-$opId.manifest.json")
    val o = fs.create(mp, true); o.write(om.writeValueAsBytes(m)); o.close()
    mp
  }

  private def copyAs(src: String, dir: String, rel: String)
      : org.apache.hadoop.fs.Path = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(dir, rel)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(src),
      fs, dst, false, conf)
    dst
  }

  test("crash recovery: both manifest paths repair exactly") {
    val dir = tempDir()
    AvroSink.write(spark.range(400).select(col("id")).repartition(4), dir,
      overwrite = true)
    val before = contents(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val files = AvroDsv2.listFiles(dir, conf).map(_._1)
    def name(p: String) = new org.apache.hadoop.fs.Path(p).getName
    // crash AFTER the commit point: every add renamed in (a copy of
    // source 0 standing in for its bin's output), the source undeleted
    val committedAdd = copyAs(files(0), dir, "compact-cafebabe-post0001.avro")
    val m1 = writeRlo(dir, "post0001", Seq(committedAdd.getName),
      Seq(name(files(0))))
    // crash BEFORE the commit point: one of two adds renamed in, plus
    // the bin's orphan rewrite temp
    val partialAdd = copyAs(files(1), dir, "compact-deadbeef-pre00001.avro")
    val m2 = writeRlo(dir, "pre00001",
      Seq(partialAdd.getName, "compact-0badf00d-pre00001.avro"),
      Seq(name(files(1)), name(files(2))))
    val orphanTemp = new org.apache.hadoop.fs.Path(dir,
      ".graft-cmp-deadbeef.avro.tmp")
    fs.create(orphanTemp, true).close()
    assert(contents(dir) === before, "readers are exact in both windows")
    // the next compaction finishes one swap, rolls back the other, and
    // compacts (huge target -> one bin over the masked listing)
    assert(graft.ops.Layout.compact(dir, Long.MaxValue / 4) === 1)
    assert(!fs.exists(orphanTemp), "orphan rewrite temp must be swept")
    assert(!fs.exists(m1) && !fs.exists(m2), "manifests must be consumed")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(files(0))),
      "post-commit crash: the pending remove must be finished")
    assert(!fs.exists(partialAdd),
      "pre-commit crash: the partial add set must be rolled back")
    assert(AvroDsv2.listFiles(dir, conf).size === 1)
    assert(contents(dir) === before,
      "recovery must converge to exactly-once content")
  }

  test("a torn multi-bin compaction reads as the old table; the next compact rolls back, then compacts") {
    val dir = tempDir()
    val df = spark.range(600).select(col("id"),
      concat(lit("L"), (col("id") % 2).cast("string")).as("lang"))
    AvroSink.writePartitioned(df.where(col("id") < 300), dir, Seq("lang"),
      overwrite = true)
    AvroSink.writePartitioned(df.where(col("id") >= 300), dir, Seq("lang"))
    val files = AvroDsv2.listFiles(dir, conf).map(_._1)
    assert(files.size === 4, files.toString)
    val before = contents(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    def rel(p: String) = AvroVersions.relativize(fs, root, p)
    // two bins (one per partition directory) committing in one swap;
    // only the FIRST bin's add got renamed in before the crash
    val l0 = files.filter(_.contains("lang=L0"))
    val firstAdd = copyAs(l0.head, dir, "lang=L0/compact-aaaa-torn0001.avro")
    val m = writeRlo(dir, "torn0001",
      Seq("lang=L0/compact-aaaa-torn0001.avro",
        "lang=L1/compact-bbbb-torn0001.avro"),
      files.map(rel))
    assert(contents(dir) === before,
      "a partial add set must read as the pre-compaction table")
    assert(graft.ops.Layout.compact(dir, Long.MaxValue / 4) === 2)
    assert(!fs.exists(firstAdd) && !fs.exists(m),
      "the torn swap must be rolled back")
    val after = AvroDsv2.listFiles(dir, conf).map(_._1)
    assert(after.size === 2 && after.forall(_.contains("compact-")), after.toString)
    assert(contents(dir) === before)
  }
}
