package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r19 (the r18 ADVICE queue): read-side manifest masking — a reader
  * hitting a crashed swap's post-commit duplicate window sees
  * exactly-once rows without waiting for the next mutation, and a
  * leftover manifest of the retired per-bin protocol fails loudly; the
  * rewrite tier's STRICT filter evaluator; sidecar self-repair on the
  * Untouched rewrite path; and block-granularity inference so tuned
  * layouts survive rewrites.
  */
class AvroRepairSpec extends SparkSpec {

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft_avro_rep").toString

  private val conf = new org.apache.hadoop.conf.Configuration()

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

  test("reader masks a committed compaction manifest: no duplicate rows") {
    val dir = tempDir()
    AvroSink.write(spark.range(400).select(col("id")).repartition(4), dir,
      overwrite = true)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // simulate a compaction's swap crashing AFTER its commit rename,
    // BEFORE the source deletes: output (copy of source 0) + manifest +
    // source
    val src0 = AvroDsv2.listFiles(dir, conf).head._1
    val finalP = new org.apache.hadoop.fs.Path(dir,
      "compact-cafebabe-0000aaaa.avro")
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(src0),
      fs, finalP, false, conf)
    val mp = writeRlo(dir, "0000aaaa", Seq(finalP.getName),
      Seq(new org.apache.hadoop.fs.Path(src0).getName))
    // the source file is still on disk, but the LISTING masks it
    assert(fs.exists(new org.apache.hadoop.fs.Path(src0)))
    val listed = AvroDsv2.listFiles(dir, conf).map(_._1)
    assert(!listed.contains(src0), "committed manifest must mask its sources")
    assert(listed.exists(_.endsWith("compact-cafebabe-0000aaaa.avro")))
    assert(spark.read.format("graft-avro").load(dir).count() === 400L,
      "no duplicate rows during the post-commit window")
    // an UNCOMMITTED manifest (its add missing) masks no source
    val mp2 = writeRlo(dir, "0000bbbb", Seq("compact-00000000-0000bbbb.avro"),
      Seq(new org.apache.hadoop.fs.Path(listed.head).getName))
    assert(spark.read.format("graft-avro").load(dir).count() === 400L)
    fs.delete(mp2, false)
    // an UNREADABLE committed manifest fails loudly, never serves dups
    val o3 = fs.create(mp, true); o3.write("not json".getBytes); o3.close()
    fs.delete(new org.apache.hadoop.fs.Path(
      dir, s".${mp.getName}.crc"), false)
    val e = intercept[IllegalStateException] {
      AvroDsv2.listFiles(dir, conf)
    }
    assert(e.getMessage.contains("unreadable commit manifest"))
  }

  test("a leftover .graft-cmp manifest fails the listing loudly; rewrite temps stay invisible") {
    val dir = tempDir()
    AvroSink.write(spark.range(100).select(col("id")).repartition(2), dir,
      overwrite = true)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // an orphan rewrite temp is a dot-file: never listed, never read
    fs.create(new org.apache.hadoop.fs.Path(dir,
      ".graft-cmp-cafebabe.avro.tmp"), true).close()
    assert(AvroDsv2.listFiles(dir, conf).size === 2)
    assert(spark.read.format("graft-avro").load(dir).count() === 100L)
    // a per-bin compaction manifest of older code is refused by name
    val src0 = AvroDsv2.listFiles(dir, conf).head._1
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val m = om.createObjectNode()
    m.put("final", "compact-cafebabe.avro")
    m.putArray("sources").add(src0)
    val mp = new org.apache.hadoop.fs.Path(dir,
      ".graft-cmp-cafebabe.manifest.json")
    val o = fs.create(mp, true); o.write(om.writeValueAsBytes(m)); o.close()
    val e = intercept[IllegalStateException] {
      AvroDsv2.listFiles(dir, conf)
    }
    assert(e.getMessage.contains(".graft-cmp-cafebabe.manifest.json"),
      e.getMessage)
  }

  test("rewrite tier evaluates filters STRICTLY: unhandled shape throws") {
    // the scan tier keeps its permissive residue...
    val unknown = org.apache.spark.sql.sources.EqualNullSafe("a", 1L)
    assert(AvroFilters.eval(unknown, _ => null))
    // ...the rewrite tier refuses (true would mean destroy-the-row)
    val e = intercept[IllegalStateException] {
      AvroFilters.eval(unknown, _ => null, strict = true)
    }
    assert(e.getMessage.contains("row-mutation"))
    // strictness propagates through And/Or
    intercept[IllegalStateException] {
      AvroFilters.eval(org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.IsNotNull("a"), unknown),
        _ => java.lang.Long.valueOf(1L), strict = true)
    }
  }

  test("Untouched rewrite repairs a missing sidecar (file-level stats)") {
    val dir = tempDir()
    AvroSink.write(spark.range(100)
      .select(col("id"), (col("id") % 5).as("v")).coalesce(1), dir,
      overwrite = true)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val target = AvroDsv2.listFiles(dir, conf).head._1
    val sc = new org.apache.hadoop.fs.Path(s"$target.stats.json")
    fs.delete(sc, false)
    val scCrc = new org.apache.hadoop.fs.Path(sc.getParent, s".${sc.getName}.crc")
    fs.delete(scCrc, false)
    assert(AvroStats.read(target).isEmpty)
    // sidecar gone -> the file cannot be ruled out -> rewrite streams it,
    // matches nothing (Untouched), and REPAIRS the sidecar in passing
    AvroSink.deleteWhere(spark, dir, col("v") > 100L)
    val st = AvroStats.read(target).getOrElse(
      fail("Untouched rewrite must regenerate the missing sidecar"))
    assert(st.rows.contains(100L))
    assert(st.cols("id").minL.contains(0L) && st.cols("id").maxL.contains(99L))
    assert(st.blocks.isEmpty,
      "repair must emit FILE-level stats only: regenerated block sync " +
        "positions would anchor splits at wrong offsets in the original")
    // the repaired sidecar re-arms metadata pushdown
    val agg = spark.read.format("graft-avro").load(dir).groupBy().count()
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-only"))
    assert(agg.collect().head.getLong(0) === 100L)
  }

  test("COW rewrite and compaction preserve a tuned block granularity") {
    val dir = tempDir()
    val src = spark.range(1000).select(col("id"), (col("id") % 9).as("v"))
    src.coalesce(1).write.format("graft-avro")
      .option("graft.schema", src.schema.json)
      .option("graft.blockrows", "250")
      .mode("overwrite").save(dir)
    def maxBlockRows(p: String): Long =
      AvroStats.read(p).get.blocks.map(_.rows).max
    assert(maxBlockRows(AvroDsv2.listFiles(dir, conf).head._1) === 250L)
    // row-level COW delete: the rewritten sidecar keeps ~250-row blocks
    AvroSink.deleteWhere(spark, dir, col("id") === 7L)
    val p1 = AvroDsv2.listFiles(dir, conf).head._1
    val blocks1 = AvroStats.read(p1).get.blocks
    assert(blocks1.size >= 3 && blocks1.map(_.rows).max === 250L,
      s"delete rewrite must infer blockrows=250, got ${blocks1.map(_.rows)}")
    // compaction of two tuned files: granularity inferred from sources
    AvroSink.write(spark.range(1000, 1500)
      .select(col("id"), (col("id") % 9).as("v")).coalesce(1), dir)
    graft.ops.Layout.compact(dir, Long.MaxValue / 4)
    val pc = AvroDsv2.listFiles(dir, conf).head._1
    assert(pc.contains("compact-"))
    val blocksC = AvroStats.read(pc).get.blocks
    assert(blocksC.nonEmpty && blocksC.map(_.rows).max === 250L,
      s"compaction must preserve the tuned granularity, got " +
        s"${blocksC.map(_.rows)}")
  }
}
