package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path

import scala.jdk.CollectionConverters._

/** Small-file COMPACTION execution for graft-avro (r18) — what turns
  * [[graft.ops.Layout.compactionPlan]]'s bins into actual rewrites. The
  * streaming sink writes one container per epoch×task, so a long-lived
  * tail accumulates thousands of small files; `compact(dir, target)`
  * rewrites each bin of small containers into ONE container of
  * ≈`targetBytes`, preserving the partition layout (bins never cross a
  * `col=value` directory), regenerating sidecars (file stats + block
  * zone maps), and leaving unbinned files byte-identical.
  *
  * Bin assignment mirrors [[graft.ops.Layout.compactionPlan]] exactly —
  * files size-DESC (path tiebreak), bin = floor(cum_before /
  * targetBytes), per directory — so the executed file count equals the
  * plan's bin count (single-file bins are no-ops and stay untouched: a
  * rewrite that changes nothing but bytes-identity is pure churn).
  *
  * COMMIT: every bin of one compaction commits in ONE file-set swap
  * ([[AvroRlo.commitReplace]], whose doc holds the crash contract): the
  * adds are the bins' outputs (`compact-<digest>-<opId>.avro`, digest =
  * md5 of the bin's sorted source names), the removes are all their
  * sources. A plain table commits through the swap's `.graft-rlo-`
  * manifest — all-or-nothing, readers masked exactly at every instant,
  * a crashed swap rolled back or finished by the next mutation; a
  * VERSIONED table commits ONE fenced log version (sources retained for
  * time travel), and a concurrent writer fails loudly
  * ([[AvroVersions.ConcurrentWriteException]]) instead of interleaving.
  * Bins rewrite into invisible `.graft-cmp-<digest>.avro.tmp` dot-temps
  * first; orphans of a crashed rewrite are swept when the next
  * compaction starts.
  *
  * CONCURRENCY CONTRACT (r19): single writer per plain table — a
  * compaction racing another mutation can sweep the other writer's
  * temps. Enable the manifest log ([[AvroVersions.enable]]) for
  * claim-fenced commits.
  */
object AvroCompact {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** One planned bin: the directory it lives in, its source files
    * (path-sorted), and the deterministic digest naming its output.
    */
  private final case class Bin(dir: String, sources: Seq[String]) {
    def digest: String = md5Hex(sources.sorted.mkString("\n")).take(16)
  }

  /** Execute compaction under `dir`: plan bins over the current file set
    * (per partition directory, compactionPlan's next-fit-decreasing
    * rule), rewrite every multi-file bin, commit them all in one swap.
    * Returns the number of bins rewritten. Idempotent: a second run
    * finds no multi-file bins and rewrites nothing.
    */
  def compact(dir: String, targetBytes: Long,
      blockRows: Option[Int] = None): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val conf = AvroSink.driverConf()
    val current = AvroVersions.resolveFiles(dir, conf)
      .getOrElse(AvroDsv2.listFiles(dir, conf))
    // candidacy: only files SMALLER than the target are compaction
    // input — a container already at/above target is done (rewriting it
    // into an ever-bigger monolith is pure churn, and excluding it is
    // what makes repeated compaction converge: outputs of multi-file
    // bins land at ≈≥ target and leave the candidate set)
    val bins = planBins(current.filter(_._2 < targetBytes), targetBytes)
      .filter(_.sources.size >= 2)
    if (bins.isEmpty) return 0
    // rewrite phase: dot-temps only (sources untouched); one bin per task
    val written = AvroRewrite.fanout(dir, conf, bins, ".graft-cmp-") { b =>
      val (temp, stats) = rewriteBin(b, blockRows); (b, temp, stats)
    }
    // compacted bins CONCATENATE sorted sources (no merge-sort): the
    // every-file-sorted invariant is gone — break the marker's claim
    // BEFORE any output becomes visible
    AvroSortMarker.clear(dir, conf)
    val opId = AvroRlo.newOpId()
    AvroRlo.commitReplace(conf, dir, opId,
      written.map { case (bin, temp, stats) =>
        (temp, new Path(new Path(bin.dir),
          s"compact-${bin.digest}-$opId.avro").toString, stats)
      },
      bins.flatMap(_.sources), "compact")
    bins.size
  }

  /** compactionPlan's assignment, driver-side over the metadata-scale
    * listing: per directory, size DESC (path tiebreak), bin =
    * floor(cumulative-bytes-before / target).
    */
  private def planBins(files: Seq[(String, Long)],
      targetBytes: Long): Seq[Bin] =
    files.groupBy(f => new Path(f._1).getParent.toString).toSeq
      .sortBy(_._1)
      .flatMap { case (d, fs0) =>
        val ordered = fs0.sortBy { case (p, len) => (-len, p) }
        var cum = 0L
        val binned = ordered.map { case (p, len) =>
          val b = cum / targetBytes
          cum += len
          (b, p)
        }
        binned.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (_, ps) => Bin(d, ps.map(_._2).sorted) }
      }

  /** Rewrite one bin into a dot-temp: union the sources' header schemas
    * by name (type conflicts fail loudly — the mergeschema contract),
    * stream every source's records in path order, null-fill absent
    * columns, regenerate stats. Returns (tempPath, sidecarBytes).
    */
  private def rewriteBin(bin: Bin,
      blockRowsOpt: Option[Int]): (String, Array[Byte]) = {
    // preserve the bin's original block granularity (r18 ADVICE): every
    // source's sidecar blocks reveal its write-time graft.blockrows —
    // take the max across sources (identical for a uniformly-written
    // table; the max is the coarsest tuned setting, never the default)
    val blockRows = blockRowsOpt.getOrElse {
      val inferred = bin.sources.flatMap(p =>
        AvroStats.read(p).map(_.blocks).filter(_.nonEmpty)
          .map(bs => math.max(1L, bs.map(_.rows).max).toInt))
      if (inferred.isEmpty) AvroSink.DefaultBlockRows else inferred.max
    }
    // merged schema across the bin (usually identical = first file's)
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, Schema]
    bin.sources.foreach { p =>
      val r = new DataFileReader[GenericRecord](
        AvroDsv2.openSeekable(p), new GenericDatumReader[GenericRecord]())
      try r.getSchema.getFields.asScala.foreach { f =>
        merged.get(f.name) match {
          case None => merged(f.name) = f.schema
          case Some(prev) =>
            if (AvroDsv2.sparkTypeOf(prev) != AvroDsv2.sparkTypeOf(f.schema))
              throw new IllegalArgumentException(
                s"graft-avro compact: column '${f.name}' type conflict " +
                  s"within bin (${bin.sources.mkString(", ")})")
        }
      } finally r.close()
    }
    val fieldMeta = merged.toSeq.map { case (n, s) =>
      (n, AvroDsv2.sparkTypeOf(s).typeName)
    }
    val outSchema = AvroSink.avroSchemaOf(fieldMeta)
    val temp = new Path(bin.dir,
      s".graft-cmp-${bin.digest}.avro.tmp")
    val out = new AvroRewrite.ContainerOut(outSchema, fieldMeta, temp, blockRows)
    try {
      bin.sources.foreach { p =>
        val in = new DataFileReader[GenericRecord](
          AvroDsv2.openSeekable(p), new GenericDatumReader[GenericRecord]())
        try {
          val inSchema = in.getSchema
          // out position j <- in position (or -1 = null-fill)
          val posMap: Array[Int] = fieldMeta.map { case (n, _) =>
            Option(inSchema.getField(n)).map(_.pos()).getOrElse(-1)
          }.toArray
          val identity = posMap.length == inSchema.getFields.size() &&
            posMap.indices.forall(j => posMap(j) == j)
          var rec: GenericRecord = null
          while (in.hasNext) {
            rec = in.next(rec)
            if (identity) out.append(rec)
            else {
              val r2 = new GenericData.Record(outSchema)
              var j = 0
              while (j < posMap.length) {
                if (posMap(j) >= 0) r2.put(j, rec.get(posMap(j)))
                j += 1
              }
              out.append(r2)
            }
          }
        } finally in.close()
      }
    } catch { case t: Throwable => out.abort(); throw t }
    (temp.toString, out.finish())
  }
}
