package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.sources.Filter

import scala.jdk.CollectionConverters._

/** Copy-on-write container REWRITE for graft-avro (r18) — the machinery
  * behind the row-level DELETE and UPDATE tiers ([[AvroTable.deleteWhere]]
  * with data-column predicates, [[AvroSink.updateWhere]]), plus the
  * fan-out and container writer that compaction ([[AvroCompact]]) shares.
  *
  * The design contract, shared with the public lakehouse formats
  * (Delta/Iceberg rewrite-on-delete): a data-column mutation rewrites
  * ONLY the files whose zone maps / blooms say a row MAY match, leaves
  * every other container byte-identical, and regenerates the rewritten
  * files' sidecars (file stats + intra-file blocks) so pruning and
  * aggregate pushdown stay exact afterwards. At 100 TB a `DELETE WHERE
  * fingerprint IN (dup set)` therefore reads and rewrites the handful
  * of may-match containers, not the table.
  *
  * Every rewrite lands in an invisible dot-temp first (a failure before
  * the commit sweeps the temps; originals are untouched), and
  * [[commitOutcomes]] commits the outcome set:
  *  - VERSIONED table: the rewritten files take fresh names and ONE
  *    file-set swap ([[AvroRlo.commitReplace]]) retires the originals —
  *    a claim-fenced log version, so a losing concurrent writer fails
  *    LOUDLY ([[AvroVersions.ConcurrentWriteException]]).
  *  - plain table: each rewritten file swaps IN PLACE, keeping its name
  *    (the filename-watermark stream and the delete specs rely on "no
  *    file appears or vanishes"), ordered so that at every instant the
  *    visible table is CORRECT (possibly conservative):
  *      1. delete the file's sidecar — stale stats must never describe
  *         the new contents (a stale row count would poison count(*)
  *         pushdown);
  *      2. rename the temp OVER the original in one overwrite-rename
  *         ([[FileContext]] `Options.Rename.OVERWRITE` — atomic on
  *         POSIX and HDFS), so there is no instant where the file is
  *         absent;
  *      3. write the regenerated sidecar.
  *    A crash after (1) or (2) leaves a readable, correct file without
  *    a sidecar — reads stay exact (pruning is conservative on missing
  *    sidecars) and re-running the same mutation completes the work
  *    (idempotence: the rewrite drops no row twice). Emptied files
  *    unlink whole through the swap. This ordering keeps READERS
  *    correct; it does NOT serialize WRITERS — two concurrent mutations
  *    of one plain table are out of contract (they can sweep each
  *    other's temps).
  */
private[graft] object AvroRewrite {

  /** One file's rewrite verdict. `Untouched` = no row matched (the
    * zone-map may-match was a false positive) — the original stays
    * byte-identical; `Emptied` = every row matched — the caller unlinks
    * the original; `Rewritten` = kept rows live in `tempPath`, stats in
    * `stats`, awaiting the driver-side swap.
    */
  sealed trait Outcome extends Serializable
  final case class Untouched(path: String) extends Outcome
  final case class Emptied(path: String, deleted: Long) extends Outcome
  final case class Rewritten(path: String, tempPath: String,
      stats: Array[Byte], kept: Long, deleted: Long) extends Outcome

  /** Original block granularity of a container, inferred from its
    * sidecar's block list (every block but the last holds exactly the
    * write-time `graft.blockrows`, so the max is the original setting) —
    * a table laid out with a tuned granularity must not silently fall
    * back to the default on its first rewrite (r18 ADVICE). No sidecar
    * or no blocks (single-block file, legacy) ⇒ the default.
    */
  private[sources] def inferBlockRows(path: String): Int =
    AvroStats.read(path).map(_.blocks).filter(_.nonEmpty)
      .map(bs => math.max(1L, bs.map(_.rows).max).toInt)
      .getOrElse(AvroSink.DefaultBlockRows)

  /** If `path` has no readable sidecar (a prior crash between the
    * overwrite-rename and the sidecar write), regenerate it from the
    * accumulators the rewrite just streamed — FILE-LEVEL stats only:
    * the aborted temp's sync positions mean nothing in the original
    * container, so block zone maps must NOT be emitted (they would
    * anchor splits at wrong offsets). Restores pruning, blooms, HLL
    * stats and aggregate pushdown that the r18 contract left
    * permanently degraded (r18 ADVICE).
    */
  private def repairSidecarIfMissing(path: String,
      fileStats: Array[Byte]): Unit = {
    val sc = new Path(s"$path.stats.json")
    val fs = sc.getFileSystem(AvroDsv2.hadoopConf)
    if (!fs.exists(sc)) {
      val out = fs.create(sc, true)
      try out.write(fileStats) finally out.close()
    }
  }

  /** Streams records of one container into a fresh dot-temp, dropping
    * every row where the filter conjunction is definitely TRUE (SQL
    * DELETE semantics: FALSE and UNKNOWN rows survive). The output
    * preserves record order — a sorted (zone-map-friendly) container
    * stays sorted — and regenerates file-level stats plus intra-file
    * block zone maps through the same [[AvroSink.ColAcc]] discipline as
    * the sink. Runs task-side (one file per task when distributed).
    *
    * `partVals`: the file's path-borne partition values (typed java, may
    * be null-valued) — partition columns are not IN the container, so a
    * mixed predicate (`lang = 'de' AND v > 10`) resolves them here.
    */
  def deleteRewrite(path: String, partVals: Map[String, Any],
      filters: Array[Filter],
      blockRowsOpt: Option[Int] = None): Outcome = {
    val blockRows = blockRowsOpt.getOrElse(inferBlockRows(path))
    val in = new DataFileReader[GenericRecord](
      AvroDsv2.openSeekable(path), new GenericDatumReader[GenericRecord]())
    try {
      val fileSchema = in.getSchema
      val fieldMeta: Seq[(String, String)] =
        fileSchema.getFields.asScala.toSeq.map(f =>
          (f.name, AvroDsv2.sparkTypeOf(f.schema).typeName))
      // filter references resolved ONCE: partition value, field position,
      // or constant null (a column absent from this file's schema)
      val refs = filters.flatMap(_.references).distinct
      val resolved: Map[String, Either[Any, Int]] = refs.map { n =>
        n -> (if (partVals.contains(n)) Left(partVals(n))
        else Option(fileSchema.getField(n)).map(f => Right(f.pos()))
          .getOrElse(Left(null)))
      }.toMap
      val dir = new Path(path).getParent
      val temp = new Path(dir,
        s".graft-del-${java.util.UUID.randomUUID().toString.take(12)}.avro.tmp")
      val out = new ContainerOut(fileSchema, fieldMeta, temp, blockRows)
      var kept = 0L; var deleted = 0L
      try {
        var rec: GenericRecord = null
        while (in.hasNext) {
          rec = in.next(rec)
          val r = rec
          val get: String => Any = n => resolved.get(n) match {
            case Some(Left(v)) => v
            case Some(Right(pos)) => r.get(pos)
            case None => null
          }
          if (filters.forall(AvroFilters.eval(_, get, strict = true)))
            deleted += 1
          else { out.append(rec); kept += 1 }
        }
      } catch { case t: Throwable => out.abort(); throw t }
      if (deleted == 0L) {
        // the whole file just streamed through the accumulators — if a
        // prior crash left it sidecar-less, repair it now (free)
        if (kept > 0L) repairSidecarIfMissing(path, out.fileStatsJson())
        out.abort(); Untouched(path)
      }
      else if (kept == 0L) { out.abort(); Emptied(path, deleted) }
      else Rewritten(path, temp.toString, out.finish(), kept, deleted)
    } finally in.close()
  }

  /** Row-level copy-on-write UPDATE of one container (r18): rows where
    * the filter conjunction is definitely TRUE get `assignments`
    * applied (values pre-validated and pre-boxed to the column's exact
    * java type by [[AvroSink.updateWhere]]); every other row passes
    * through byte-equivalent. SQL UPDATE null semantics: FALSE and
    * UNKNOWN rows are untouched. The GDPR-rectification / redaction
    * shape — set a column to a constant (or null) on exactly the
    * matching rows, rewriting only may-match containers.
    */
  def updateRewrite(path: String, partVals: Map[String, Any],
      filters: Array[Filter], assignments: Map[String, Any],
      blockRowsOpt: Option[Int] = None): Outcome = {
    val blockRows = blockRowsOpt.getOrElse(inferBlockRows(path))
    val in = new DataFileReader[GenericRecord](
      AvroDsv2.openSeekable(path), new GenericDatumReader[GenericRecord]())
    try {
      val fileSchema = in.getSchema
      val fieldMeta: Seq[(String, String)] =
        fileSchema.getFields.asScala.toSeq.map(f =>
          (f.name, AvroDsv2.sparkTypeOf(f.schema).typeName))
      val refs = filters.flatMap(_.references).distinct
      val resolved: Map[String, Either[Any, Int]] = refs.map { n =>
        n -> (if (partVals.contains(n)) Left(partVals(n))
        else Option(fileSchema.getField(n)).map(f => Right(f.pos()))
          .getOrElse(Left(null)))
      }.toMap
      // an update targeting a column this container does not carry
      // (schema evolution) cannot apply — fail loudly, never silently
      // skip the file's matching rows
      val setPos: Seq[(Int, Any)] = assignments.toSeq.map { case (n, v) =>
        val f = fileSchema.getField(n)
        require(f != null,
          s"graft-avro update: column '$n' absent from container $path " +
            s"(schema-evolved table — compact to the merged schema first)")
        (f.pos(), v)
      }
      val dir = new Path(path).getParent
      val temp = new Path(dir,
        s".graft-upd-${java.util.UUID.randomUUID().toString.take(12)}.avro.tmp")
      val out = new ContainerOut(fileSchema, fieldMeta, temp, blockRows)
      var updated = 0L
      try {
        var rec: GenericRecord = null
        while (in.hasNext) {
          rec = in.next(rec)
          val r = rec
          val get: String => Any = n => resolved.get(n) match {
            case Some(Left(v)) => v
            case Some(Right(pos)) => r.get(pos)
            case None => null
          }
          if (filters.forall(AvroFilters.eval(_, get, strict = true))) {
            updated += 1
            setPos.foreach { case (pos, v) => rec.put(pos, v) }
          }
          out.append(rec)
        }
      } catch { case t: Throwable => out.abort(); throw t }
      if (updated == 0L) {
        if (out.rows > 0L) repairSidecarIfMissing(path, out.fileStatsJson())
        out.abort(); Untouched(path)
      }
      else Rewritten(path, temp.toString, out.finish(), out.rows, updated)
    } finally in.close()
  }

  /** The ordered in-place swap (see class doc): stale sidecar out,
    * overwrite-rename the temp over the original, fresh sidecar in.
    */
  def swapInPlace(conf: Configuration, tempPath: String, dstPath: String,
      stats: Array[Byte]): Unit = {
    val dst = new Path(dstPath)
    val fs = dst.getFileSystem(conf)
    fs.delete(new Path(s"$dstPath.stats.json"), false)
    val fc = FileContext.getFileContext(dst.toUri, conf)
    fc.rename(new Path(tempPath), dst, Options.Rename.OVERWRITE)
    val sOut = fs.create(new Path(s"$dstPath.stats.json"), true)
    try sOut.write(stats) finally sOut.close()
  }

  /** Split `filters` into partition-only conjuncts (evaluated exactly
    * per file from its path) and the rest, and prune: returns
    * (candidate paths — partition conjuncts definitely TRUE,
    * data-conjunct array, target paths — candidates the zone maps /
    * blooms cannot rule out). Shared by the DELETE and UPDATE tiers.
    */
  private[sources] def splitAndPrune(pathStr: String, conf: Configuration,
      filters: Array[Filter], partSpec: Seq[(String, String)])
      : (Seq[String], Array[Filter], Seq[String]) = {
    val partNameSet = partSpec.map(_._1).toSet
    val partTypes = partSpec.toMap
    val (partFilters, dataFilters) = filters.partition(f =>
      partNameSet.nonEmpty && f.references.nonEmpty &&
        f.references.forall(partNameSet.contains))
    // a VERSIONED table's mutation set comes from the manifest log —
    // retained files of older versions must not be re-deleted/rewritten
    val current = AvroVersions.resolveFiles(pathStr, conf)
      .getOrElse(AvroDsv2.listFiles(pathStr, conf))
    val candidates = current.filter { case (p, _) =>
      val raw = AvroPartitions.rawValuesOf(p, partNameSet)
      val get: String => Any =
        n => raw.get(n).map(AvroPartitions.typed(_, partTypes(n))).orNull
      partFilters.forall(AvroFilters.eval(_, get))
    }.map(_._1)
    val targets =
      if (dataFilters.isEmpty) candidates
      else candidates.filter { p =>
        AvroStats.read(p) match {
          case Some(st) => dataFilters.forall(AvroStats.mayMatch(_, st))
          case None => true
        }
      }
    (candidates, dataFilters, targets)
  }

  /** Shared rewrite FAN-OUT: sweep orphan `tempPrefix` dot-temps (a
    * hard crash's leftovers), run `rewrite` one Spark task per item
    * (driver-local without a session, or for a single item), sweep
    * temps and rethrow on any failure. The caller commits the results.
    * Documented caveat: two CONCURRENT mutations of one table would
    * sweep each other's temps; concurrent mutations are outside this
    * source's contract.
    */
  private[sources] def fanout[A: scala.reflect.ClassTag,
      B: scala.reflect.ClassTag](pathStr: String, conf: Configuration,
      items: Seq[A], tempPrefix: String)(rewrite: A => B): Seq[B] = {
    if (items.isEmpty) return Seq.empty
    val root = new Path(pathStr)
    val fs = root.getFileSystem(conf)
    AvroSink.tempSweep(fs, root, tempPrefix)
    try {
      org.apache.spark.sql.SparkSession.getActiveSession match {
        case Some(ss) if items.size > 1 =>
          ss.sparkContext.parallelize(items,
            math.min(items.size, math.max(1, ss.sparkContext.defaultParallelism)))
            .map(rewrite).collect().toSeq
        case _ => items.map(rewrite)
      }
    } catch {
      case t: Throwable =>
        AvroSink.tempSweep(fs, root, tempPrefix)
        throw t
    }
  }

  /** [[fanout]] over container files: `rewrite(path, partVals)` per
    * target, the file's path-borne partition values typed per the spec.
    */
  private[sources] def cowFanout(pathStr: String, conf: Configuration,
      targets: Seq[String], partSpec: Seq[(String, String)],
      tempPrefix: String,
      rewrite: (String, Map[String, Any]) => Outcome): Seq[Outcome] = {
    val partNameSet = partSpec.map(_._1).toSet
    val work = targets.map { p =>
      val raw = AvroPartitions.rawValuesOf(p, partNameSet)
      (p, partSpec.map { case (n, t) =>
        n -> raw.get(n).map(AvroPartitions.typed(_, t)).orNull
      }.toMap)
    }
    fanout(pathStr, conf, work, tempPrefix) { case (p, pv) => rewrite(p, pv) }
  }

  /** Driver orchestration for the UPDATE tier (DELETE's lives in
    * [[AvroTable.deleteWhere]], whose whole-file fast path has no
    * UPDATE analogue): prune, fan out, commit ([[commitOutcomes]]).
    * Unchanged files stay byte-identical.
    */
  private[sources] def runUpdate(pathStr: String,
      conf: Configuration, filters: Array[Filter],
      partSpec: Seq[(String, String)],
      assignments: Map[String, Any]): Unit = {
    // an assignment to a SORT-MARKER column breaks the every-file-sorted
    // invariant even though record ORDER is preserved (the values moved)
    // — break the claim BEFORE any rewrite becomes visible (r19 review:
    // a stale claim would let downstream sorts elide over unsorted data)
    if (AvroSortMarker.read(pathStr, conf).exists(assignments.contains))
      AvroSortMarker.clear(pathStr, conf)
    val (_, _, targets) = splitAndPrune(pathStr, conf, filters, partSpec)
    val outcomes = cowFanout(pathStr, conf, targets, partSpec, ".graft-upd-",
      (p, pv) => updateRewrite(p, pv, filters, assignments))
    commitOutcomes(conf, pathStr, outcomes, op = "update")
  }

  /** Commit a COW outcome set (class doc), shared by the DELETE and
    * UPDATE row tiers, through the one file-set swap. VERSIONED table:
    * every `Rewritten` temp takes a FRESH visible name
    * (`part-cow-<op>-<k>.avro`) and the swap retires the rewritten and
    * emptied originals (retained on disk for time travel;
    * [[AvroVersions.expire]] reclaims). Plain table: each `Rewritten`
    * file swaps in place ([[swapInPlace]]) and the swap unlinks the
    * `Emptied` ones.
    */
  private[sources] def commitOutcomes(conf: Configuration,
      pathStr: String, outcomes: Seq[Outcome], op: String): Unit = {
    val opId = AvroRlo.newOpId()
    val emptied = outcomes.collect { case Emptied(p, _) => p }
    val (adds, removes) = if (AvroVersions.isVersioned(pathStr, conf)) {
      val rewritten = outcomes.zipWithIndex.collect {
        case (Rewritten(p, temp, stats, _, _), k) =>
          (p, (temp, new Path(new Path(p).getParent,
            f"part-cow-$opId-$k%05d.avro").toString, stats))
      }
      (rewritten.map(_._2), rewritten.map(_._1) ++ emptied)
    } else {
      outcomes.foreach {
        case Rewritten(p, temp, stats, _, _) =>
          swapInPlace(conf, temp, p, stats)
        case _ => ()
      }
      (Seq.empty, emptied)
    }
    AvroRlo.commitReplace(conf, pathStr, opId, adds, removes, op)
  }

  /** Unlink a container + its sidecar and retire newly-empty partition
    * directories up to (never including) the table root.
    */
  def unlinkWithDirs(fs: FileSystem, root: Path, paths: Seq[String]): Unit = {
    val rootQualified = fs.makeQualified(root)
    val parents = scala.collection.mutable.LinkedHashSet.empty[Path]
    paths.foreach { p =>
      val fp = new Path(p)
      fs.delete(fp, false)
      fs.delete(new Path(s"$p.stats.json"), false)
      parents += fp.getParent
    }
    parents.foreach { p0 =>
      var p = p0
      while (p != null && fs.makeQualified(p) != rootQualified &&
          fs.exists(p) && fs.listStatus(p).isEmpty) {
        fs.delete(p, false)
        p = p.getParent
      }
    }
  }

  /** A standalone container writer over GenericRecords — the sink's
    * stats discipline ([[AvroSink.ColAcc]] file accumulators with
    * blooms, bloom-less block accumulators flushed at forced syncs)
    * without the DSv2 InternalRow plumbing. Used by the delete rewrite
    * (records pass through in their original schema) and compaction
    * (records re-mapped into the bin's schema by the caller).
    */
  private[graft] final class ContainerOut(avroSch: Schema,
      fieldMeta: Seq[(String, String)], val tempPath: Path, blockRows: Int) {
    private val accs = fieldMeta.map(f =>
      new AvroSink.ColAcc(AvroSink.typeOf(f._2)))
    private var blockAccs = fieldMeta.map(f =>
      new AvroSink.ColAcc(AvroSink.typeOf(f._2), trackBloom = false))
    private var blockRowCount = 0L
    private val blocks = Seq.newBuilder[AvroSink.BlockAcc]
    var rows = 0L
    private val writer: DataFileWriter[GenericRecord] = {
      val fs = tempPath.getFileSystem(AvroDsv2.hadoopConf)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](avroSch))
      w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
      w.create(avroSch, fs.create(tempPath, true))
      w
    }
    private def flushBlock(): Unit = if (blockRowCount > 0) {
      blocks += AvroSink.BlockAcc(writer.sync(), blockRowCount, blockAccs)
      blockAccs = fieldMeta.map(f =>
        new AvroSink.ColAcc(AvroSink.typeOf(f._2), trackBloom = false))
      blockRowCount = 0L
    }
    /** Appends a record CONFORMING to `avroSch` (same field positions). */
    def append(rec: GenericRecord): Unit = {
      var j = 0
      while (j < fieldMeta.length) {
        val v = rec.get(j)
        if (v == null) { accs(j).addNull(); blockAccs(j).addNull() }
        else fieldMeta(j)._2 match {
          case "long" =>
            val l = v.asInstanceOf[java.lang.Long].longValue
            accs(j).addL(l); blockAccs(j).addL(l)
          case "integer" =>
            val l = v.asInstanceOf[java.lang.Integer].longValue
            accs(j).addL(l); blockAccs(j).addL(l)
          case "double" =>
            val d = v.asInstanceOf[java.lang.Double].doubleValue
            accs(j).addD(d); blockAccs(j).addD(d)
          case "string" =>
            val s = v.toString // Utf8 or String
            accs(j).addS(s); blockAccs(j).addS(s)
          case _ => () // boolean: counts only
        }
        j += 1
      }
      writer.append(rec)
      rows += 1
      blockRowCount += 1
      if (blockRowCount >= blockRows) flushBlock()
    }
    /** Close and return the sidecar JSON for the written container. */
    def finish(): Array[Byte] = {
      flushBlock()
      writer.close()
      AvroSink.statsJson(fieldMeta, accs, rows, blocks.result())
    }
    /** FILE-LEVEL stats only (no block list) — for repairing the
      * sidecar of an UNTOUCHED original whose rows just streamed
      * through: the blocks accumulated here anchor sync positions of
      * THIS temp, which mean nothing in the original container.
      */
    def fileStatsJson(): Array[Byte] =
      AvroSink.statsJson(fieldMeta, accs, rows, Seq.empty)
    def abort(): Unit = {
      try writer.close() catch { case _: Throwable => () }
      val fs = tempPath.getFileSystem(AvroDsv2.hadoopConf)
      fs.delete(tempPath, false)
    }
  }
}
