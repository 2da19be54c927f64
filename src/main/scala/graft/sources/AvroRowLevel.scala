package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** GROUP-BASED (copy-on-write) row-level operations for graft-avro
  * (r19) — what makes SQL `UPDATE`, `MERGE INTO`, and rewrite-shaped
  * `DELETE` resolve against catalog tables
  * ([[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]).
  *
  * Spark 4 plans these statements against a group-based connector by
  * REWRITING GROUPS: it scans every group (here: container FILE) that
  * may hold a matching row, recomputes those groups' full row set (the
  * update/merge expressions are evaluated in the query — which is what
  * lifts the Scala-API `updateWhere`'s literal-assignment limit: SQL
  * assignments are arbitrary expressions, computed by Spark above this
  * scan), and hands the replacement rows to the operation's write,
  * which must atomically swap the scanned files for the new ones.
  *
  * Division of labor:
  *  - [[AvroCowScanBuilder]] / [[AvroCowScan]]: pushed filters prune at
  *    FILE granularity only — partition-path conjuncts evaluate exactly,
  *    data-column conjuncts consult the sidecar zone maps / blooms — and
  *    every surviving file is then read IN FULL (no record-level filter
  *    evaluation, no intra-file block skipping: the non-matching rows of
  *    an affected file are exactly what the replacement must carry).
  *    The planned file set is recorded on the operation — it IS the
  *    remove set of the commit.
  *  - [[AvroCowWrite]]: tasks stream replacement rows through the
  *    ordinary [[AvroWriterFactory]] dot-temp protocol (partition layout
  *    preserved — an UPDATE that changes a partition column simply
  *    routes the row to its new directory); the driver commits through
  *    graft-avro's one file-set swap ([[AvroRlo]]).
  *
  * At 100 TB: a selective `UPDATE ... WHERE id = k` reads and rewrites
  * only the bloom/zone-map-positive containers, one task per split.
  * `MERGE INTO` pushes no static filters (its condition references the
  * source) — RUNTIME group filtering covers it: [[AvroCowScan]]
  * implements `SupportsRuntimeFiltering` on `_file`, Spark's
  * matching-rows scan feeds the matched containers back as an
  * In-filter before planning, and only those files rewrite (unmatched
  * files stay byte-identical — spec-pinned). Plain `DELETE FROM`
  * with translatable predicates still routes to the zero/partial-read
  * metadata tier ([[AvroTable.deleteWhere]]) via Spark's
  * OptimizeMetadataOnlyDeleteFromTable; only untranslatable shapes
  * (e.g. NOT, functions) fall through to this rewrite.
  *
  * SINGLE-WRITER contract (same as [[AvroRewrite]]/[[AvroCompact]]):
  * concurrent mutations of one table are out of contract; readers are
  * always safe (see the manifest masking in [[AvroDsv2.listFiles]]).
  */
private[sources] class AvroRowLevelOperation(
    cmd: RowLevelOperation.Command, schema: StructType, pathStr: String,
    files: Seq[(String, Long)], splitBytes: Long,
    partSpec: Seq[(String, String)]) extends RowLevelOperation {

  /** The files the COW scan planned — the commit's remove set. Set at
    * planInputPartitions (always before the write commits: the write's
    * rows come from this very scan).
    */
  @volatile private[sources] var scannedFiles: Option[Seq[String]] = None

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-avro COW $cmd ($pathStr)"

  // the `_file` metadata column is the group identity. Declaring it
  // required is ALSO what routes the replacement rows through Spark's
  // projecting writing task: with no metadata attributes, Spark 4's
  // ReplaceDataExec falls back to the plain task, which hands the
  // writer the query output UNPROJECTED — with the internal
  // __row_operation column still prepended (ReplaceDataExec.writingTask
  // only applies rowProjection in the metadata branch).
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(AvroDsv2.FileColumn))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroCowScanBuilder(this, schema, files, splitBytes, partSpec)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        new AvroCowWrite(
        AvroRowLevelOperation.this, info.schema(), pathStr,
        info.queryId(), partSpec,
        // preserve the table's tuned block granularity (r18 ADVICE
        // discipline): infer from the first container's sidecar
        files.headOption.map(f => AvroRewrite.inferBlockRows(f._1))
          .getOrElse(AvroSink.DefaultBlockRows))
      }
    }
}

/** Filter pushdown for the COW scan: accepted filters prune FILES at
  * planning; everything stays residual and NOTHING is evaluated per
  * record (class doc on [[AvroRowLevelOperation]]).
  */
private[sources] class AvroCowScanBuilder(op: AvroRowLevelOperation,
    fullSchema: StructType, files: Seq[(String, Long)], splitBytes: Long,
    partSpec: Seq[(String, String)])
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(AvroFilters.supported)
    filters // all residual: the rewrite query re-evaluates the condition
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan =
    new AvroCowScan(op, required, files, splitBytes, pushed, partSpec)
}

private[sources] class AvroCowScan(op: AvroRowLevelOperation,
    required: StructType, files: Seq[(String, Long)], splitBytes: Long,
    pushed: Array[Filter], partSpec: Seq[(String, String)])
  extends Scan with Batch with SupportsRuntimeFiltering {
  private val partNames = partSpec.map(_._1).toSet
  private val partTypes = partSpec.toMap

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-avro COW group scan (${files.size} candidate file(s)), " +
      s"GroupFilters: ${pushed.mkString("[", ", ", "]")}"

  // -- runtime GROUP filtering on `_file` -------------------------------
  // Spark's RowLevelOperationRuntimeGroupFiltering plans a SEPARATE
  // matching-rows scan (ordinary AvroScan: filters pushed, zone maps,
  // record-level eval) projecting `_file`, and feeds the distinct
  // result back here as an In-filter before planInputPartitions — so
  // the rewrite touches exactly the files that CONTAIN a matching row,
  // not every file the static stats could not rule out. For MERGE
  // (whose ON condition references the source and pushes nothing
  // statically) this is the difference between rewriting the matched
  // containers and rewriting the table.
  @volatile private var runtimeKeep: Option[Set[String]] = None
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(AvroDsv2.FileColumn))
  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case org.apache.spark.sql.sources.In(c, vs)
          if c == AvroDsv2.FileColumn =>
        runtimeKeep = Some(vs.iterator.filter(_ != null)
          .map(_.toString).toSet)
      case _ => () // any other shape: no extra pruning (conservative)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val (partFilters, dataFilters) = pushed.partition(f =>
      partNames.nonEmpty && f.references.nonEmpty &&
        f.references.forall(partNames.contains))
    val surviving = files.filter { case (path, _) =>
      runtimeKeep.forall(_.contains(path)) && {
        val raw = AvroPartitions.rawValuesOf(path, partNames)
        val get: String => Any =
          n => raw.get(n).map(AvroPartitions.typed(_, partTypes(n))).orNull
        partFilters.forall(AvroFilters.eval(_, get)) &&
          (dataFilters.isEmpty || (AvroStats.read(path) match {
            case Some(st) => dataFilters.forall(AvroStats.mayMatch(_, st))
            case None => true
          }))
      }
    }
    op.scannedFiles = Some(surviving.map(_._1))
    val step = math.max(1L, splitBytes)
    surviving.flatMap { case (path, len) =>
      val raw =
        if (partSpec.isEmpty) Map.empty[String, String]
        else AvroPartitions.rawValuesOf(path, partNames)
      (0L until math.max(1L, (len + step - 1) / step)).map { i =>
        AvroSplit(path, i * step, math.min(len, (i + 1) * step), raw)
      }
    }.toArray[InputPartition]
  }

  // pushed = EMPTY at the reader: every row of an affected file must
  // reach the rewrite query — the write replaces whole files
  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(required.fieldNames, Array.empty, partSpec)
}

/** The replace-groups write: ordinary dot-temp task writes, committed
  * by swapping the scanned files for the new ones
  * ([[AvroRlo.commitReplace]]).
  */
private[sources] class AvroCowWrite(op: AvroRowLevelOperation,
    schema: StructType, pathStr: String, queryId: String,
    partSpec: Seq[(String, String)], blockRows: Int)
  extends Write with BatchWrite with RequiresDistributionAndOrdering {
  private val partCols = partSpec.map(_._1)
  override def toBatch: BatchWrite = this
  override def description(): String = s"graft-avro COW replace ($pathStr)"

  override def requiredOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty
  override def requiredDistribution():
      org.apache.spark.sql.connector.distributions.Distribution =
    if (partCols.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions
        .clustered(partCols.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions
            .identity(c): org.apache.spark.sql.connector.expressions
            .Expression).toArray)
    else org.apache.spark.sql.connector.distributions.Distributions
      .unspecified()
  override def requiredNumPartitions(): Int = 0

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    AvroSink.validateSchema(schema)
    new AvroWriterFactory(
      schema.fields.toIndexedSeq.map(f => (f.name, f.dataType.typeName)),
      pathStr, queryId, partCols, blockRows)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val removes = op.scannedFiles.getOrElse(throw new IllegalStateException(
      "graft-avro COW write committed before its group scan planned — " +
        "cannot determine the replace set"))
    val adds = messages.collect {
      case m: AvroCommitMessage if m.parts.nonEmpty => m
    }.sortBy(_.partitionId).flatMap { m =>
      m.parts.zipWithIndex.map { case ((tempPath, stats), k) =>
        val temp = new Path(tempPath)
        val finalName =
          f"part-rlo-${queryId.take(8)}-p${m.partitionId}%05d-$k%03d.avro"
        (tempPath, new Path(temp.getParent, finalName).toString, stats)
      }
    }.toSeq
    // replacement rows arrive in the rewrite query's order, not the
    // committed sort order — break the marker's claim BEFORE any file
    // becomes visible (a clear after the renames would leave a window
    // where a reader sees unsorted files under a live sorted claim)
    if (adds.nonEmpty) AvroSortMarker.clear(pathStr, AvroSink.driverConf())
    AvroRlo.commitReplace(AvroSink.driverConf(), pathStr, queryId.take(8),
      adds, removes, "replace")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(pathStr).getFileSystem(AvroSink.driverConf())
    messages.collect { case m: AvroCommitMessage => m }
      .foreach(_.parts.foreach { case (p, _) => fs.delete(new Path(p), false) })
    AvroSink.tempSweep(fs, new Path(pathStr), s".graft-$queryId-")
  }
}

/** The ONE file-set swap of graft-avro: every mutation that replaces a
  * set of files — SQL UPDATE / MERGE / rewrite-shaped DELETE
  * ([[AvroCowWrite]]), compaction ([[AvroCompact]]), whole-file deletes
  * and the versioned row tier ([[AvroRewrite.commitOutcomes]]) — commits
  * an {adds, removes} pair here, and this is the only place that picks
  * the commit route:
  *  - VERSIONED table: [[AvroVersions.commitSwap]] — the adds rename to
  *    their fresh names, ONE fenced log version swaps the file set, and
  *    the removes stay on disk for time travel.
  *  - plain table: the `.graft-rlo-` manifest, with the read-side
  *    guarantee that at every instant [[AvroDsv2.listFiles]] masks it
  *    into exactly-once content (all adds present ⇒ removes excluded;
  *    any add missing ⇒ adds excluded).
  *
  * Plain commit order per operation:
  *   1. sweep orphan rlo manifests of prior crashes ([[recover]]);
  *   2. write the manifest (root-level, paths RELATIVE to the table
  *      root, atomic temp+rename) — removes-only commits skip it and
  *      unlink directly (a zero-add manifest would read as committed
  *      the instant it lands, turning the manifest WRITE into the
  *      commit point ahead of the caller's intent);
  *   3. per add: stats sidecar first (inert without its container),
  *      then rename the dot-temp to its final name — the LAST rename
  *      is the commit point;
  *   4. delete the removes (+ sidecars, retiring emptied partition
  *      directories);
  *   5. delete the manifest.
  * Crash before the last rename ⇒ recovery aborts (deletes renamed
  * adds + orphan sidecars; originals untouched). Crash after ⇒ recovery
  * finishes (4)+(5). Readers are exact throughout via the mask. The
  * swap is all-or-nothing on both routes: a multi-file add set (every
  * bin of one compaction) commits at one point.
  *
  * The swap never touches the sort marker: the callers whose adds break
  * the every-file-sorted invariant (compaction, [[AvroCowWrite]], an
  * update assigning a sort column) clear it BEFORE they call here;
  * deletes keep it.
  */
private[graft] object AvroRlo {

  /** A fresh short id naming one mutation's manifest and added files. */
  def newOpId(): String = java.util.UUID.randomUUID().toString.take(8)

  def commitReplace(conf: Configuration, rootStr: String, opId: String,
      adds: Seq[(String, String, Array[Byte])], // (temp, finalAbs, stats)
      removes: Seq[String], op: String): Unit = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(conf)
    if (adds.isEmpty && removes.isEmpty) return
    if (AvroVersions.isVersioned(fs, root)) {
      AvroVersions.commitSwap(fs, root, adds, removes, op)
      return
    }
    recover(fs, root)
    if (adds.isEmpty) {
      // nothing to add: plain unlink (per-file atomic, like the
      // metadata DELETE tier)
      AvroRewrite.unlinkWithDirs(fs, root, removes)
      return
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    val aArr = node.putArray("adds")
    adds.foreach { case (_, f, _) => aArr.add(AvroVersions.relativize(fs, root, f)) }
    val rArr = node.putArray("removes")
    removes.foreach(r => rArr.add(AvroVersions.relativize(fs, root, r)))
    val mName = s".graft-rlo-$opId.manifest.json"
    val mPath = new Path(root, mName)
    val mTmp = new Path(root, s"$mName.tmp")
    val out = fs.create(mTmp, true)
    try out.write(om.writeValueAsBytes(node)) finally out.close()
    fs.delete(mPath, false)
    require(fs.rename(mTmp, mPath),
      s"graft-avro rlo: manifest rename $mTmp -> $mPath failed")
    adds.foreach { case (temp, finalAbs, stats) =>
      val dst = new Path(finalAbs)
      val sOut = fs.create(new Path(s"$finalAbs.stats.json"), true)
      try sOut.write(stats) finally sOut.close()
      require(fs.rename(new Path(temp), dst),
        s"graft-avro rlo: rename $temp -> $dst failed")
    }
    AvroRewrite.unlinkWithDirs(fs, root, removes)
    fs.delete(mPath, false)
  }

  /** Finish or roll back every surviving rlo manifest (commit order in
    * the class doc): all adds present ⇒ finish the remove deletes; any
    * add missing ⇒ delete the renamed adds + any orphan sidecars, so
    * the originals (untouched by construction) are the table again.
    */
  def recover(fs: FileSystem, root: Path): Unit = {
    if (!fs.exists(root)) return
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val sts = fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.startsWith(".graft-rlo-")
    }
    sts.filter(_.getPath.getName.endsWith(".manifest.json.tmp"))
      .foreach(st => fs.delete(st.getPath, false)) // torn pre-commit write
    sts.filter(_.getPath.getName.endsWith(".manifest.json")).foreach { m =>
      val node = try {
        val in = fs.open(m.getPath)
        try om.readTree(in: java.io.InputStream) finally in.close()
      } catch {
        case e: Throwable => throw new IllegalStateException(
          s"graft-avro rlo: unreadable commit manifest ${m.getPath} — " +
            s"cannot decide its commit state; repair or remove it", e)
      }
      def paths(field: String): Seq[Path] =
        Option(node.get(field)).map(_.asScala.toSeq).getOrElse(Seq.empty)
          .map(n => new Path(root, n.asText))
      val adds = paths("adds")
      if (adds.nonEmpty && adds.forall(fs.exists)) {
        AvroRewrite.unlinkWithDirs(fs, root, paths("removes").map(_.toString))
      } else {
        adds.foreach { a =>
          fs.delete(a, false)
          fs.delete(new Path(s"$a.stats.json"), false)
        }
      }
      fs.delete(m.getPath, false)
    }
  }
}
