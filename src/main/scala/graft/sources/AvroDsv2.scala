package graft.sources

import java.util.{Map => JMap}

import org.apache.avro.file.{DataFileReader, SeekableInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DataSource V2 reader for Avro object container files —
  * `spark.read.format("graft-avro").load(path)` — the PARALLEL bulk-
  * ingest path over the same record loop as [[Avro.read]] (which stays
  * the driver-side upload-contract tier). The container format is
  * splittable by design: every block ends at a 16-byte sync marker, so
  * each input partition is a byte range [start, end) read with the
  * classic sync protocol — seek to the first sync AFTER start, consume
  * records until past the first sync after end. A record's block
  * belongs to exactly one range, so adjacent splits never duplicate or
  * drop rows, and a 100 TB directory of container files fans out to
  * (files × blocks/splitBytes) independent tasks with zero shuffle.
  *
  * IO goes through the Hadoop FileSystem API on BOTH sides (r15 — was
  * java.io.File, a local-FS-only ceiling): the driver lists/stats via
  * `FileSystem.globStatus`, executors open an `FSDataInputStream`-backed
  * [[SeekableInput]], so any Hadoop-supported scheme (hdfs://, s3a://,
  * file://) works. Executors resolve the filesystem from the split's
  * own URI with the default Hadoop `Configuration` (one per JVM,
  * [[AvroDsv2.hadoopConf]]) — cluster-specific conf
  * keys that only live in the driver's session conf are NOT propagated
  * (the documented remaining gap; the sandbox and any default-configured
  * cluster are unaffected).
  *
  * Column pruning is pushed down (SupportsPushDownRequiredColumns): the
  * datum reader still decodes each record (Avro is row-major), but only
  * the requested fields are converted and shipped as InternalRow
  * columns, so a 2-column projection over a 50-field feed moves 2
  * columns through the scan.
  *
  * Filter pushdown (SupportsPushDownFilters, r15): comparison/null/In
  * predicates over the five primitive types are evaluated on the decoded
  * GenericRecord BEFORE row conversion, so non-matching rows never
  * become InternalRows or travel upstream — on a selective 100 TB ingest
  * that is the difference between shipping the feed and shipping the
  * match set. Evaluation maps SQL's unknown (null operand) to "filter
  * out", exactly WHERE semantics; every filter is also returned as a
  * residual so Spark re-applies it above the scan — the scan may only
  * SKIP rows, never wrongly keep one. (Block-level min/max skipping
  * would be the next rung once the writer records per-block ranges.)
  *
  * Types: the same five primitives as [[Avro]] (long, int, double,
  * string, boolean as nullable unions) — the upload-contract schema
  * this engine writes. `load(dir)` expands to the directory's *.avro
  * files; `graft.splitbytes` overrides the split size (tests force tiny
  * splits to exercise multi-partition reads on small files).
  *
  * Streaming (r15): the same table serves `spark.readStream` as a
  * MICRO_BATCH_READ tail — see [[AvroMicroBatchStream]] for the
  * file-name-watermark offset protocol and [[AvroSeenLogStream]]
  * (`graft.seenlog=true`) for the late-file-tolerant log protocol.
  *
  * r16 tiers, all metadata-first:
  *  - [[AvroStats]] zone maps + [[AvroBloom]] equality blooms skip whole
  *    files from the sidecars at planning time;
  *  - [[AvroPartitions]] Hive-style `col=value` layout with exact
  *    partition-directory pruning;
  *  - [[AvroAggPush]] complete aggregate pushdown: global or
  *    partition-grouped count/min/max answered with ZERO container
  *    reads.
  */
class AvroDataSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-avro"

  override def supportsExternalMetadata(): Boolean = true

  private def hadoopConf(): Configuration = AvroSink.driverConf()

  /** (path, length) of every matching container file, via the Hadoop
    * FileSystem of the path's scheme — a directory expands to its
    * *.avro children, a file (or glob) stands alone.
    */
  private def filesOf(options: CaseInsensitiveStringMap): Seq[(String, Long)] = {
    val pathStr = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-avro requires a path"))
    val files = AvroDsv2.listFiles(pathStr, hadoopConf())
    require(files.nonEmpty, s"no .avro files under $pathStr")
    files
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // `graft.schema` (the DataFrame schema as JSON) wins when present:
    // the DSv2 WRITE path resolves the table via inferSchema too, and a
    // first write to an empty directory has no file to infer from —
    // [[AvroSink.write]] passes it automatically. Reads of existing data
    // never need it.
    Option(options.get("graft.schema")).foreach { json =>
      return org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[StructType]
    }
    val files = filesOf(options)
    def headerFields(path: String): Seq[StructField] = {
      val reader = new DataFileReader[GenericRecord](
        AvroDsv2.openSeekable(path),
        new GenericDatumReader[GenericRecord]())
      try reader.getSchema.getFields.asScala.toSeq.map(f =>
        StructField(f.name, AvroDsv2.sparkTypeOf(f.schema), nullable = true))
      finally reader.close()
    }
    // schema evolution (r17): `graft.mergeschema=true` unions the
    // container HEADER schemas across all files by name — old containers
    // null-fill columns appended by later writes (the Avro record reader
    // already returns null for a field absent from a file's schema, so
    // only schema INFERENCE changes; sidecar pruning and aggregate
    // pushdown stay conservative on files that lack a column's stats).
    // One header open per file, driver-side — the same planning cost
    // contract as parquet mergeSchema. A type conflict fails LOUDLY:
    // silently widening would corrupt every downstream consumer.
    val dataFields: Seq[StructField] =
      if (Option(options.get("graft.mergeschema")).exists(_.toBoolean)) {
        val merged = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
        // header opens in bounded parallel (r20); the union itself runs
        // sequentially IN FILE ORDER below, so first-appearance column
        // order and first-conflict error attribution are unchanged
        graft.Par.map(files)(f => (f._1, headerFields(f._1)))
          .foreach { case (p, fields) =>
          fields.foreach { f =>
            merged.get(f.name) match {
              case None => merged(f.name) = f
              case Some(prev) =>
                if (prev.dataType != f.dataType)
                  throw new IllegalArgumentException(
                    s"graft-avro mergeschema: column '${f.name}' is " +
                      s"${prev.dataType.typeName} in an earlier container " +
                      s"but ${f.dataType.typeName} in $p — type conflicts " +
                      s"do not merge")
            }
          }
        }
        merged.values.toSeq
      } else headerFields(files.head._1)
    // partitioned layout: the path-borne columns append LAST (the Spark
    // partitionBy convention), typed from the committed spec
    val partFields = AvroPartitions
      .readSpec(options.get("path"), hadoopConf())
      .map { case (n, t) => StructField(n, AvroSink.typeOf(t), nullable = true) }
    StructType(dataFields ++ partFields)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val pathStr = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-avro requires a path"))
    // NO non-empty requirement here (unlike inferSchema, which needs a
    // file to read a schema from): with an explicit schema a STREAMING
    // tail must be startable before its producer writes the first file,
    // and a batch read of an empty directory is legitimately empty.
    // A VERSIONED table (r19) resolves its file set from the manifest
    // log — latest, or `graft.versionasof=N` — instead of listing;
    // `graft.files` (root-relative, comma-separated) restricts the read
    // to an explicit subset (the changelog feed's building block).
    val asOf = Option(properties.get("graft.versionasof")).map(_.toLong)
    val files = Option(properties.get("graft.files")) match {
      case Some(rels) =>
        // an explicit subset resolves DIRECTLY (stat per file), not
        // through the manifest or the listing: the change feed reads
        // files a NEWER version already dropped
        val fs = new Path(pathStr).getFileSystem(hadoopConf())
        AvroDsv2.qualifySubset(pathStr, hadoopConf(), rels).toSeq.sorted
          .map { p =>
            val st = fs.getFileStatus(new Path(p))
            (p, st.getLen)
          }
      case None =>
        AvroVersions.resolveFiles(pathStr, hadoopConf(), asOf)
          .getOrElse(AvroDsv2.listFiles(pathStr, hadoopConf()))
    }
    new AvroTable(schema, pathStr, files,
      Option(properties.get("graft.splitbytes")).map(_.toLong)
        .getOrElse(32L << 20),
      AvroPartitions.readSpec(pathStr, hadoopConf()),
      // the sort marker describes the LATEST layout only — pinned or
      // explicit-subset reads must not claim its ordering
      mayReportOrdering =
        asOf.isEmpty && !properties.containsKey("graft.files"))
  }
}

private[sources] object AvroDsv2 {

  /** Name of the `_file` metadata column (path of the row's container). */
  val FileColumn = "_file"

  /** Qualified absolute paths of a comma-separated root-relative file
    * list (the `graft.files` read option).
    */
  def qualifySubset(pathStr: String, conf: Configuration,
      rels: String): Set[String] = {
    val root = new Path(pathStr)
    val fs = root.getFileSystem(conf)
    rels.split(',').iterator.map(_.trim).filter(_.nonEmpty)
      .map(r => fs.makeQualified(new Path(root, r)).toString).toSet
  }

  /** Sorted (path, length) listing shared by the batch planner and the
    * streaming tail's per-trigger re-list. May be empty (the stream
    * starts before the first file lands). RECURSIVE (r16): a Hive-style
    * partitioned layout (`dir/lang=en/part-*.avro`) lists its leaf
    * containers; flat layouts are unchanged.
    *
    * MANIFEST MASKING (r19, the r18 ADVICE medium): a crash inside a
    * plain table's file-set swap ([[AvroRlo.commitReplace]] — a
    * compaction, or a row-level SQL UPDATE / MERGE / DELETE) leaves a
    * `.graft-rlo-<id>.manifest.json` at the table root next to a
    * partial or complete add set. Rather than serving a mix until the
    * next mutation runs the physical recovery sweep, the listing
    * consults every surviving manifest as an EXCLUSION MASK: ALL listed
    * adds present ⇒ committed, the removes are excluded; any add
    * missing ⇒ pre-commit, the ADDS are excluded (a partially-renamed
    * add set must read as the old snapshot, not a mix).
    * A manifest that cannot be parsed fails LOUDLY — serving
    * known-duplicated rows would be silent corruption — and so does a
    * `.graft-cmp-*.manifest.json`, the per-bin compaction manifest of
    * older code, which this code no longer resolves. The happy path
    * (no manifests — they exist only mid-commit or after a crash) costs
    * one name check per directory entry, nothing more.
    */
  def listFiles(pathStr: String, conf: Configuration): IndexedSeq[(String, Long)] = {
    val p = new Path(pathStr)
    val fs = p.getFileSystem(conf)
    // bounded retry (r19 review): a manifest can legitimately VANISH
    // between the walk and the mask parse — the single writer's commit
    // completing is not corruption; the re-list then sees the finished
    // physical state (and never the retired sources the stale walk
    // might still carry)
    var attempt = 0
    while (true) {
      attempt += 1
      val manifests = Seq.newBuilder[Path]
      def walk(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .flatMap { s =>
              val n = s.getPath.getName
              val manifest = s.isFile && n.endsWith(".manifest.json")
              if (manifest && n.startsWith(".graft-cmp-"))
                throw new IllegalStateException(
                  s"graft-avro: ${s.getPath} is a per-bin compaction " +
                    s"manifest left by a crash of older graft-avro code; " +
                    s"finish or roll back that compaction by hand, then " +
                    s"remove the manifest")
              else if (manifest && n.startsWith(".graft-rlo-")) {
                manifests += s.getPath; Seq.empty
              } else if (n.startsWith(".") || n.startsWith("_")) Seq.empty
              else walk(s)
            }
        else if (st.isFile && st.getPath.getName.endsWith(".avro")) Seq(st)
        else Seq.empty
      val listed = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
        .flatMap(walk)
        .map(st => (st.getPath.toString, st.getLen))
        .sortBy(_._1)
        .toIndexedSeq
      val ms = manifests.result()
      if (ms.isEmpty) return listed
      manifestMask(fs, ms, listed.map(_._1).toSet) match {
        case Some(excluded) =>
          return if (excluded.isEmpty) listed
          else listed.filterNot(f => excluded.contains(f._1))
        case None if attempt < 4 => () // vanished mid-walk: re-list
        case None => throw new IllegalStateException(
          s"graft-avro: commit manifests under $pathStr kept vanishing " +
            s"across $attempt listings — a writer livelock or clock-" +
            s"skewed mutation storm; retry the read")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The set of listed paths the surviving manifests exclude (doc on
    * [[listFiles]]); None = a manifest vanished since the walk (the
    * writer's commit completed) — the caller must re-list. Paths
    * compare in the listing's own qualified form.
    */
  private def manifestMask(fs: FileSystem, manifests: Seq[Path],
      listedSet: Set[String]): Option[Set[String]] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // Some(node) = parsed; None = VANISHED since the walk (healthy
    // commit finished; the caller re-lists); present-but-unreadable is
    // corruption and fails loudly
    def parse(m: Path): Option[com.fasterxml.jackson.databind.JsonNode] =
      try {
        val in = fs.open(m)
        try Some(om.readTree(in: java.io.InputStream)) finally in.close()
      } catch {
        case _: Throwable if !fs.exists(m) => None
        case _: Throwable => throw new IllegalStateException(
          s"graft-avro: unreadable commit manifest $m — cannot decide " +
            s"its commit state; repair or remove it")
      }
    // paths are RELATIVE to the table root the manifest sits in (they
    // may span partition subdirectories)
    def qualify(dir: Path, rel: String): String =
      fs.makeQualified(new Path(dir, rel)).toString
    val out = Set.newBuilder[String]
    manifests.foreach { m =>
      val dir = m.getParent
      parse(m) match {
        case None => return None // commit finished mid-walk: re-list
        case Some(node) =>
          val adds = Option(node.get("adds")).map(_.asScala.toSeq)
            .getOrElse(Seq.empty).map(a => qualify(dir, a.asText))
          val removes = Option(node.get("removes")).map(_.asScala.toSeq)
            .getOrElse(Seq.empty).map(r => qualify(dir, r.asText))
          if (adds.forall(listedSet.contains)) out ++= removes
          else out ++= adds
      }
    }
    Some(out.result())
  }

  def sparkTypeOf(s: org.apache.avro.Schema): org.apache.spark.sql.types.DataType = {
    import org.apache.avro.Schema.Type._
    import org.apache.spark.sql.types._
    s.getType match {
      case LONG    => LongType
      case INT     => IntegerType
      case DOUBLE  => DoubleType
      case STRING  => StringType
      case BOOLEAN => BooleanType
      case UNION =>
        val nonNull = s.getTypes.asScala.filter(_.getType != NULL)
        require(nonNull.size == 1, s"unsupported union $s")
        sparkTypeOf(nonNull.head)
      case t => throw new IllegalArgumentException(
        s"graft-avro cannot map Avro type $t")
    }
  }

  /** The Hadoop `Configuration` of every per-file and per-task graft-avro
    * IO site that has no session conf at hand (sidecar reads, executor
    * opens, writer opens and aborts, rewrites): Hadoop's defaults, the
    * same content as a fresh default one, but parsed from its XML
    * resources once per JVM instead of once per file. Shared, so never
    * `set` anything on it.
    */
  lazy val hadoopConf: Configuration = new Configuration()

  /** Avro [[SeekableInput]] over a Hadoop FSDataInputStream — resolves
    * the filesystem from the path's own URI, so the same reader code
    * serves file://, hdfs:// and any other configured scheme.
    */
  def openSeekable(path: String): SeekableInput = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    new SeekableInput {
      override def read(b: Array[Byte], off: Int, n: Int): Int = in.read(b, off, n)
      override def seek(pos: Long): Unit = in.seek(pos)
      override def tell(): Long = in.getPos
      override def length(): Long = len
      override def close(): Unit = in.close()
    }
  }
}

/** Hive-style partitioned layout for graft-avro (r16): the sink's
  * `writePartitioned` lays containers out as `dir/col=value/.../part-*
  * .avro`, records the partition COLUMN SPEC (names + Spark type names,
  * in order) in `_graft_partitions.json` at the table root, and leaves
  * the partition columns OUT of the containers — they live in the path.
  * The scan appends them back (typed, last in the schema, the Spark
  * partitionBy convention) and prunes whole DIRECTORIES at planning
  * time from pushed filters that reference only partition columns —
  * exact evaluation, the same plan-time pruning contract as parquet
  * partition pruning, composed WITH the sidecar zone-map/bloom file
  * skipping for data columns.
  *
  * Values are URL-encoded in the path (nulls as a reserved marker);
  * partition columns are restricted to long/int/string/boolean — a
  * double's toString round-trip is a correctness trap, and a float
  * partition key is a modeling bug anyway.
  */
private[sources] object AvroPartitions {
  val SpecFile = "_graft_partitions.json"
  val NullMarker = "__GRAFT_NULL__"

  val AllowedTypes: Set[String] = Set("long", "integer", "string", "boolean")

  def encode(v: Any): String =
    if (v == null) NullMarker
    else java.net.URLEncoder.encode(v.toString, "UTF-8")

  /** Typed java value of a raw path component (None spec rows never get
    * here); null for the marker. The value classes match what
    * [[AvroFilters.cmp]] compares and what the reader converts.
    */
  def typed(raw: String, typeName: String): Any =
    if (raw == NullMarker) null
    else {
      val s = java.net.URLDecoder.decode(raw, "UTF-8")
      typeName match {
        case "long" => java.lang.Long.valueOf(s)
        case "integer" => java.lang.Integer.valueOf(s)
        case "boolean" => java.lang.Boolean.valueOf(s)
        case _ => s
      }
    }

  /** Raw `col=value` components of a file path, keyed by the declared
    * partition column names (unknown segments are ignored, so the
    * parse needs no root-relative arithmetic across URI schemes).
    */
  def rawValuesOf(path: String, partNames: Set[String]): Map[String, String] =
    path.split('/').iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) Iterator.empty
      else {
        val name = seg.substring(0, i)
        if (partNames.contains(name)) Iterator(name -> seg.substring(i + 1))
        else Iterator.empty
      }
    }.toMap

  /** The committed partition spec, or empty when the table is flat.
    * ONLY a missing spec file reads as "flat" — a transient IO error or
    * corrupt JSON PROPAGATES (fail closed): swallowing it would let a
    * flat append pass [[AvroBatchWrite]]'s layout-compatibility check
    * and interleave a flat container into a partitioned table, or let a
    * read plan a partitioned directory as a flat (wrong-schema) table
    * (r16 ADVICE).
    */
  def readSpec(pathStr: String, conf: Configuration): Seq[(String, String)] = {
    val p = new Path(pathStr, SpecFile)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else try {
      val in = fs.open(p)
      val root = try
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
      root.asScala.toSeq.map(n =>
        (n.get("name").asText, n.get("type").asText))
    } catch {
      case _: java.io.FileNotFoundException => Seq.empty // raced delete
      case e: Throwable => throw new IllegalStateException(
        s"graft-avro: unreadable partition spec $p — refusing to treat " +
          s"the table as flat (layout corruption risk)", e)
    }
  }

  def writeSpec(pathStr: String, conf: Configuration,
      spec: Seq[(String, String)]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = om.createArrayNode()
    spec.foreach { case (n, t) =>
      val o = arr.addObject(); o.put("name", n); o.put("type", t); ()
    }
    val p = new Path(pathStr, SpecFile)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(om.writeValueAsBytes(arr)) finally out.close()
  }
}

/** Committed SORT-ORDER metadata for graft-avro (r19) — the read-side
  * half of the r18 clustered write: `_graft_sort.json` at the table
  * root records the column list every live container is sorted by
  * (ascending, nulls first — the clustered write's declared order).
  * The scan then reports a per-partition ordering
  * ([[org.apache.spark.sql.connector.read.SupportsReportOrdering]]):
  * every split is a CONTIGUOUS byte range of one sorted container, so
  * a sort-merge join or sorted aggregate above it elides its Sort.
  *
  * The marker lives and dies with the layout invariant "EVERY file is
  * sorted by exactly these columns":
  *  - written by a clustered write into an empty/truncated table, or an
  *    append whose sort columns MATCH the committed marker;
  *  - preserved by row-level COW delete/update (rewrites keep record
  *    order) and whole-file deletes;
  *  - DELETED by any unsorted append, streaming append, compaction
  *    (bins concatenate sorted files — not merge-sort), and row-level
  *    SQL replace (the rewrite query's output order is Spark's).
  * Conservative by construction: no marker means no ordering claim, and
  * time-travel / explicit-subset reads never consult it (the marker
  * describes the LATEST layout only).
  */
private[sources] object AvroSortMarker {
  val File = "_graft_sort.json"

  def read(pathStr: String, conf: Configuration): Seq[String] = {
    val p = new Path(pathStr, File)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else try {
      val in = fs.open(p)
      val node = try
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
      node.asScala.toSeq.map(_.asText)
    } catch { case _: Throwable => Seq.empty } // unreadable: no claim
  }

  def write(pathStr: String, conf: Configuration,
      cols: Seq[String]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = om.createArrayNode()
    cols.foreach(arr.add)
    val p = new Path(pathStr, File)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(om.writeValueAsBytes(arr)) finally out.close()
  }

  def clear(pathStr: String, conf: Configuration): Unit = {
    val p = new Path(pathStr, File)
    val fs = p.getFileSystem(conf)
    fs.delete(p, false)
    ()
  }

  /** Does this write KEEP the every-file-sorted invariant? — a
    * clustered write that replaces the table, order-matches the
    * committed marker, or starts an empty table. `tableWasEmpty` is
    * BY-NAME (r19 review): it costs a full listing and is only
    * consulted for a clustered first write, never on the common
    * unsorted-append path.
    */
  def affirms(pathStr: String, conf: Configuration, sortBy: Seq[String],
      replacesTable: Boolean, tableWasEmpty: => Boolean): Boolean =
    sortBy.nonEmpty && (replacesTable ||
      read(pathStr, conf) == sortBy || tableWasEmpty)
}

/** Record-level evaluation of pushed-down source filters against the
  * decoded Avro record. `eval` returns true only when the predicate is
  * definitely TRUE under SQL semantics; null operands (SQL unknown) map
  * to false — i.e. WHERE semantics, so a pushed filter can only skip
  * rows the residual Filter above would drop anyway.
  */
private[sources] object AvroFilters {
  /** Byte-wise UTF-8 string comparison — Spark's string order
    * (UTF8String binary compare). Java's String.compareTo orders by
    * UTF-16 CODE UNITS, which disagrees with UTF-8 byte order whenever
    * supplementary-plane characters (surrogate pairs, 0xF0.. in UTF-8)
    * mix with U+E000–U+FFFF (0xEE–0xEF in UTF-8 but numerically above
    * surrogates in UTF-16) — every stats build, zone-map verdict and
    * pushed-aggregate fold must use THIS order or a pruning/pushdown
    * decision can contradict what Spark's own scan would compute
    * (r16 ADVICE, medium).
    */
  private[sources] def utf8Cmp(a: String, b: String): Int = {
    // allocation-free (r17 review: the byte-array version re-encoded
    // both strings on every call in per-record and per-written-row hot
    // paths): UTF-8 byte order equals CODE-POINT order, which differs
    // from UTF-16 code-unit order only in where the surrogate block
    // sits — remap chars so surrogates (= supplementary code points)
    // sort ABOVE all BMP chars: [0, D7FF] unchanged, [E000, FFFF] →
    // −0x800 = [D800, F7FF], surrogates [D800, DFFF] → +0x2000 =
    // [F800, FFFF]; ranges stay disjoint and internally ordered, and a
    // surrogate PAIR compares high-then-low = code-point order.
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c1 = a.charAt(i); val c2 = b.charAt(i)
      if (c1 != c2) {
        def adj(c: Char): Int =
          if (c < 0xD800) c
          else if (c >= 0xE000) c - 0x800
          else c + 0x2000
        return adj(c1) - adj(c2)
      }
      i += 1
    }
    a.length - b.length
  }

  /** Filters this source can evaluate per record (top-level attributes
    * over the five supported primitives; boolean combinations thereof).
    */
  def supported(f: Filter): Boolean = f match {
    case EqualTo(_, v) => comparable(v)
    case GreaterThan(_, v) => comparable(v)
    case GreaterThanOrEqual(_, v) => comparable(v)
    case LessThan(_, v) => comparable(v)
    case LessThanOrEqual(_, v) => comparable(v)
    case IsNull(_) | IsNotNull(_) => true
    case In(_, vs) => vs.forall(comparable)
    case StringStartsWith(_, _) => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case _ => false // incl. Not: three-valued flip needs unknown tracking
  }

  private def comparable(v: Any): Boolean = v match {
    case null => false
    case _: Number | _: String | _: java.lang.Boolean => true
    case _ => false
  }

  /** `strict = false` (scan tier): an unsupported residue evaluates to
    * TRUE = "never skip the row" — safe because the residual Filter
    * above re-checks. `strict = true` (REWRITE tier, r19 — delete /
    * update / row-level replace): there TRUE means "destroy or mutate
    * the row", so an unhandled shape must THROW, never guess — any
    * future drift between [[supported]] and this match would otherwise
    * silently turn into delete-everything instead of keep-everything
    * (r18 ADVICE).
    */
  def eval(f: Filter, get: String => Any, strict: Boolean = false): Boolean = f match {
    case EqualTo(a, v) => cmp(get(a), v).contains(0)
    case GreaterThan(a, v) => cmp(get(a), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(get(a), v).exists(_ >= 0)
    case LessThan(a, v) => cmp(get(a), v).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(get(a), v).exists(_ <= 0)
    case IsNull(a) => get(a) == null
    case IsNotNull(a) => get(a) != null
    case In(a, vs) => { val x = get(a); vs.exists(v => cmp(x, v).contains(0)) }
    case StringStartsWith(a, prefix) => get(a) match {
      case s: CharSequence => s.toString.startsWith(prefix)
      case _ => false
    }
    case And(l, r) => eval(l, get, strict) && eval(r, get, strict)
    case Or(l, r) => eval(l, get, strict) || eval(r, get, strict)
    case _ if strict => throw new IllegalStateException(
      s"graft-avro rewrite: unhandled filter shape $f reached the " +
        s"row-mutation evaluator — refusing to treat it as TRUE")
    case _ => true // scan residue: never skip on it
  }

  /** Three-valued comparison: None when either side is null or the pair
    * is incomparable (⇒ predicate unknown ⇒ row skipped, WHERE-style).
    * Numeric compare is EXACT for every representable value: two
    * integrals compare as longs, integral-vs-floating goes through
    * [[cmpLongDouble]] (floor + remainder tie-break), never through a
    * lossy double round-trip — a pushed `l_key = 9007199254740993L`
    * must not skip the matching row because both sides rounded to the
    * same double (pushdown skips BEFORE the residual Filter, so a row
    * wrongly dropped here is unrecoverable).
    */
  private def cmp(recVal: Any, litVal: Any): Option[Int] = (recVal, litVal) match {
    case (null, _) | (_, null) => None
    case (a: Number, b: Number) => Some(cmpNum(a, b))
    case (a: CharSequence, b: CharSequence) =>
      Some(utf8Cmp(a.toString, b.toString))
    case (a: java.lang.Boolean, b: java.lang.Boolean) => Some(a.compareTo(b))
    case _ => None
  }

  private def isIntegral(n: Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  /** Exact numeric comparison across the long/int/double value domain. */
  private[sources] def cmpNum(a: Number, b: Number): Int =
    if (isIntegral(a) && isIntegral(b))
      java.lang.Long.compare(a.longValue(), b.longValue())
    else if (isIntegral(a)) cmpLongDouble(a.longValue(), b.doubleValue())
    else if (isIntegral(b)) -cmpLongDouble(b.longValue(), a.doubleValue())
    else java.lang.Double.compare(a.doubleValue(), b.doubleValue())

  /** Exact long-vs-double compare without rounding the long: outside
    * ±2^63 the double dominates; inside, compare against floor(d) and
    * break the tie on the fractional remainder. NaN sorts greater than
    * every long (Spark's NaN ordering).
    */
  private[sources] def cmpLongDouble(l: Long, d: Double): Int =
    if (d.isNaN) -1
    else if (d >= 9.223372036854776e18) -1 // d >= 2^63 > Long.MaxValue
    else if (d < -9.223372036854776e18) 1
    else {
      val fl = math.floor(d)
      val c = java.lang.Long.compare(l, fl.toLong)
      if (c != 0) c else if (d > fl) -1 else 0
    }
}

/** Per-column Bloom filter shared by the sink (build) and the scan
  * (probe) — the EQUALITY complement to the zone map's range pruning: a
  * needle-in-haystack point lookup (`WHERE id = 42`) over range-
  * overlapping files prunes nothing by min/max, but a 2048-bit Bloom
  * per column per file answers "definitely absent" for ~0.1 KB of
  * sidecar. The hash is MD5 over a CANONICAL string form (integrals as
  * their decimal long, strings raw), so an Integer literal probes a
  * long column's bloom correctly; doubles and booleans are not tracked
  * (float equality pruning is a trap; a 2-value domain needs no
  * filter). False positives only cost a read — never a lost row.
  */
private[sources] object AvroBloom {
  val Bits = 2048
  val Words: Int = Bits / 64
  val K = 3

  /** The canonical probe/insert string; None = value class not tracked. */
  def canonical(v: Any): Option[String] = v match {
    case null => None
    case n: java.lang.Long => Some(n.toString)
    case n: java.lang.Integer => Some(n.longValue.toString)
    case n: java.lang.Short => Some(n.longValue.toString)
    case n: java.lang.Byte => Some(n.longValue.toString)
    case s: CharSequence => Some(s.toString)
    case _ => None
  }

  private def positions(s: String): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Array.tabulate(K) { i =>
      val o = i * 4
      val h = ((md(o) & 0xff) << 24) | ((md(o + 1) & 0xff) << 16) |
        ((md(o + 2) & 0xff) << 8) | (md(o + 3) & 0xff)
      (h & 0x7fffffff) % Bits
    }
  }

  def md5(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def add(words: Array[Long], s: String): Unit =
    positions(s).foreach(p => words(p >> 6) |= 1L << (p & 63))

  /** Insert from a precomputed MD5 digest — the write hot path computes
    * the digest ONCE per value and feeds both the bloom and the HLL
    * register block ([[AvroHll]]).
    */
  def addDigest(words: Array[Long], md: Array[Byte]): Unit = {
    var i = 0
    while (i < K) {
      val o = i * 4
      val h = ((md(o) & 0xff) << 24) | ((md(o + 1) & 0xff) << 16) |
        ((md(o + 2) & 0xff) << 8) | (md(o + 3) & 0xff)
      val p = (h & 0x7fffffff) % Bits
      words(p >> 6) |= 1L << (p & 63)
      i += 1
    }
  }

  def mayContain(words: Array[Long], s: String): Boolean =
    positions(s).forall(p => (words(p >> 6) & (1L << (p & 63))) != 0L)

  def toBase64(words: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(Words * 8)
    words.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** None on any malformed/mis-sized payload (foreign sidecar): the
    * caller must treat that as "no bloom", never as "empty bloom"
    * (an empty bloom would prune EVERYTHING).
    */
  def fromBase64(s: String): Option[Array[Long]] = try {
    val bytes = java.util.Base64.getDecoder.decode(s)
    if (bytes.length != Words * 8) None
    else {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Some(Array.fill(Words)(bb.getLong))
    }
  } catch { case _: Throwable => None }
}

/** Per-column HyperLogLog register block for the sidecars (r18) — the
  * NDV (distinct-count) sketch behind the scan's column-level CBO
  * statistics. Same integer-exact derivation as the engine's corpus
  * HLL (`Sketches.hllRegisters`, Flajolet et al. 2007): the value's MD5
  * digest — computed ONCE per written value and shared with the bloom —
  * yields a 60-bit hash (the first 15 hex digits); bucket = h mod 64,
  * rho counts the leading zeros of the remaining 54-bit suffix.
  * Registers MERGE BY MAX, so per-file blocks fold into an exact
  * whole-table (or pruned-subset) sketch at planning time: 64 bytes per
  * column per file buys Catalyst a join-selectivity NDV at 100 TB with
  * zero container reads. Tracked for the same columns as the bloom
  * (long/int/string canonical forms); doubles/booleans are not.
  */
private[sources] object AvroHll {
  val M = 64
  private val QBits = 54 // 60-bit hash minus 6 bucket bits

  def add(regs: Array[Byte], md: Array[Byte]): Unit = {
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (md(i) & 0xffL); i += 1 }
    h = h >>> 4 // top 60 bits = the md5's first 15 hex digits
    val bucket = (h % M).toInt
    val q = h / M
    val rho =
      if (q == 0L) QBits + 1
      else QBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(q))
    if (rho > regs(bucket)) regs(bucket) = rho.toByte
  }

  def mergeInto(acc: Array[Byte], other: Array[Byte]): Unit = {
    var i = 0
    while (i < M) { if (other(i) > acc(i)) acc(i) = other(i); i += 1 }
  }

  /** Standard HLL estimate with the small-range linear-counting
    * correction — driver-side planning math (an ESTIMATE for the
    * optimizer, never oracle-compared, so libm is fine here).
    */
  def estimate(regs: Array[Byte]): Long = {
    val alpha = 0.7213 / (1.0 + 1.079 / M)
    var sum = 0.0; var zeros = 0
    var i = 0
    while (i < M) {
      sum += math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val e = alpha * M * M / sum
    val corrected =
      if (e <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros) else e
    math.max(1L, math.round(corrected))
  }

  def toBase64(regs: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(regs)

  /** None on any malformed/mis-sized payload (foreign sidecar). */
  def fromBase64(s: String): Option[Array[Byte]] = try {
    val bytes = java.util.Base64.getDecoder.decode(s)
    if (bytes.length != M) None else Some(bytes)
  } catch { case _: Throwable => None }
}

/** Sidecar zone-map pruning for the graft-avro scan: [[AvroSink]] writes
  * `<file>.stats.json` (per-column min/max/nulls + row count); at
  * planning time [[AvroScan]] consults them and drops whole files whose
  * ranges cannot satisfy the pushed filters. All decisions are
  * CONSERVATIVE — missing sidecar, missing column stats, or an
  * unsupported predicate shape mean "read the file"; only a provably
  * unsatisfiable range skips, so pruning can never lose a row.
  *
  * NaN soundness (r16): double min/max stats EXCLUDE NaN, but under
  * Spark's ordering NaN is GREATER than every value — so a NaN row
  * satisfies `a > v` even when the stored max says no row can. Every
  * decision that leans on an UPPER bound of a double-stat column (>,
  * >=, = NaN) therefore requires the sidecar's `nans` count to prove
  * the file NaN-free; a legacy sidecar without the field keeps the
  * file. Lower-bound decisions (<, <=) are unaffected — NaN satisfies
  * neither, and excluding NaN cannot raise the stored min.
  */
private[sources] object AvroStats {
  /** min/max as Option (absent when the file has no non-null value);
    * integral JSON stats as exact longs (what [[AvroSink]] writes for
    * long/int columns), floating stats as doubles, strings as strings.
    */
  final case class Col(minL: Option[Long], maxL: Option[Long],
      minD: Option[Double], maxD: Option[Double],
      minS: Option[String], maxS: Option[String], nulls: Long,
      nans: Option[Long] = None, bloom: Option[Array[Long]] = None,
      sumL: Option[Long] = None, hll: Option[Array[Byte]] = None)
  // rows is an OPTION: a foreign/hand-edited sidecar with `cols` but no
  // `rows` must read as "row count unknown", never as 0 — a zero here
  // flows into numRows() estimates (auto-broadcasting a huge table) and
  // count(*) pushdown (wrong answers), so absence is typed, not defaulted
  final case class FileStats(rows: Option[Long], cols: Map[String, Col],
      blocks: Seq[Block] = Seq.empty)

  /** One intra-file zone-map block (r17): `endSync` anchors the sync
    * position that ends it (the [[AvroSink]] writer's forced-sync
    * return), so the scan can plan a split range covering exactly the
    * blocks a filter cannot rule out.
    */
  final case class Block(endSync: Long, rows: Long, cols: Map[String, Col])

  def read(avroPath: String): Option[FileStats] = try {
    val p = new Path(s"$avroPath.stats.json")
    val fs = p.getFileSystem(AvroDsv2.hadoopConf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val root = try
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
      // legacy-collation guard (r17): sidecars without the "coll" marker
      // folded string bounds with UTF-16 String.compareTo; under the
      // UTF-8 comparator a non-ASCII legacy bound could wrongly prune —
      // DROP such bounds (ASCII bounds order identically in both
      // collations and stay usable). The aggregate-pushdown side then
      // declines via the all-null proof (a bound-less column with
      // non-null rows cannot answer min/max).
      val utf8Coll = Option(root.get("coll")).exists(_.asText == "utf8")
      def asciiOnly(s: String): Boolean = s.forall(_ < 0x80)
      def parseCols(node: com.fasterxml.jackson.databind.JsonNode)
          : Map[String, Col] =
        Option(node).map { cn =>
          cn.fields().asScala.map { e =>
            val v = e.getValue
            val (minL, maxL, minD, maxD, minS, maxS) =
              (Option(v.get("min")), Option(v.get("max"))) match {
                case (Some(mn), Some(mx)) if mn.isTextual =>
                  if (utf8Coll || (asciiOnly(mn.asText) && asciiOnly(mx.asText)))
                    (None, None, None, None, Some(mn.asText), Some(mx.asText))
                  else (None, None, None, None, None, None)
                case (Some(mn), Some(mx))
                    if mn.isIntegralNumber && mx.isIntegralNumber &&
                      mn.canConvertToLong && mx.canConvertToLong =>
                  (Some(mn.asLong), Some(mx.asLong), None, None, None, None)
                case (Some(mn), Some(mx)) =>
                  (None, None, Some(mn.asDouble), Some(mx.asDouble), None, None)
                case _ => (None, None, None, None, None, None)
              }
            e.getKey -> Col(minL, maxL, minD, maxD, minS, maxS,
              Option(v.get("nulls")).map(_.asLong).getOrElse(0L),
              Option(v.get("nans")).map(_.asLong),
              Option(v.get("bloom")).filter(_.isTextual)
                .flatMap(b => AvroBloom.fromBase64(b.asText)),
              // exact long sums only — a foreign sidecar storing a lossy
              // double sum must read as "no sum", never as an approximation
              Option(v.get("sum"))
                .filter(n => n.isIntegralNumber && n.canConvertToLong)
                .map(_.asLong),
              Option(v.get("hll")).filter(_.isTextual)
                .flatMap(h => AvroHll.fromBase64(h.asText)))
          }.toMap
        }.getOrElse(Map.empty[String, Col])
      val blocks = Option(root.get("blocks")).filter(_.isArray)
        .map(_.asScala.toSeq.flatMap { b =>
          for {
            e <- Option(b.get("e")).filter(n =>
              n.isIntegralNumber && n.canConvertToLong).map(_.asLong)
            r <- Option(b.get("rows")).filter(n =>
              n.isIntegralNumber && n.canConvertToLong).map(_.asLong)
          } yield Block(e, r, parseCols(b.get("cols")))
        }).getOrElse(Seq.empty)
      Some(FileStats(Option(root.get("rows")).map(_.asLong),
        parseCols(root.get("cols")), blocks))
    }
  } catch { case _: Throwable => None } // unreadable sidecar: never skip

  /** Could ANY row of a file with these stats satisfy the filter?
    * (false ⇒ the whole file is skipped)
    */
  def mayMatch(f: Filter, st: FileStats): Boolean = f match {
    case EqualTo(a, v) =>
      if (isNaNv(v)) mayHaveNaN(st, a)
      else inRange(st, a, v, lowOk = 0, highOk = 0) && bloomMay(st, a, v)
    case GreaterThan(a, v) =>
      upperUnsound(st, a, v) || cmpMax(st, a, v).forall(_ > 0)
    case GreaterThanOrEqual(a, v) =>
      upperUnsound(st, a, v) || cmpMax(st, a, v).forall(_ >= 0)
    case LessThan(a, v) => cmpMin(st, a, v).forall(_ < 0)
    case LessThanOrEqual(a, v) => cmpMin(st, a, v).forall(_ <= 0)
    case In(a, vs) => vs.exists(v =>
      if (isNaNv(v)) mayHaveNaN(st, a)
      else inRange(st, a, v, 0, 0) && bloomMay(st, a, v))
    case StringStartsWith(a, prefix) =>
      // a string with prefix p lies in [p, succ(p)) under UTF-8 byte
      // order (s = p ++ rest ⟹ s >= p; succ(p) = p with its last
      // non-0xFF byte incremented bounds every extension above) — the
      // file may match iff its [minS, maxS] intersects that range.
      // Nulls never satisfy StartsWith, so value bounds alone decide;
      // an all-0xFF prefix has no successor and only the lower bound
      // prunes (r17).
      st.cols.get(a).forall { c =>
        (c.minS, c.maxS) match {
          case (Some(mn), Some(mx)) =>
            val pb = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val upOk = cmpBytes(
              mx.getBytes(java.nio.charset.StandardCharsets.UTF_8), pb) >= 0
            val loOk = prefixSucc(pb).forall(sb => cmpBytes(
              mn.getBytes(java.nio.charset.StandardCharsets.UTF_8), sb) < 0)
            upOk && loOk
          case _ => true // no bounds (all-null, legacy, foreign): keep
        }
      }
    case IsNull(a) => st.cols.get(a).forall(_.nulls > 0)
    case IsNotNull(a) => st.cols.get(a).forall(c =>
      st.rows.forall(r => c.nulls < r)) // unknown rows: never skip
    case And(l, r) => mayMatch(l, st) && mayMatch(r, st)
    case Or(l, r) => mayMatch(l, st) || mayMatch(r, st)
    case _ => true
  }

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Smallest byte string greater than every string with prefix `p`:
    * increment the last non-0xFF byte, truncate after it; None when all
    * bytes are 0xFF (no successor exists).
    */
  private def prefixSucc(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && (p(i) & 0xff) == 0xff) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = ((out(i) & 0xff) + 1).toByte
      Some(out)
    }
  }

  private def isNaNv(v: Any): Boolean = v match {
    case d: java.lang.Double => d.isNaN
    case f: java.lang.Float => f.isNaN
    case _ => false
  }

  /** Could the column hold a NaN this file's min/max didn't see? True
    * unless the stats prove otherwise: long/string-typed stats (NaN
    * impossible) or a recorded `nans == 0`. A column with no stats
    * entry at all stays "maybe" (foreign sidecar).
    */
  private def mayHaveNaN(st: FileStats, a: String): Boolean =
    !st.cols.get(a).exists(c =>
      c.minL.isDefined || c.minS.isDefined || c.nans.contains(0L))

  /** An upper-bound (max-based) prune of `a <op> v` is UNSOUND when the
    * column may hold NaN (greater than every value under Spark's
    * ordering, excluded from the stored max) and the literal is numeric.
    */
  private def upperUnsound(st: FileStats, a: String, v: Any): Boolean =
    v.isInstanceOf[Number] && mayHaveNaN(st, a)

  /** Bloom probe for equality: false ⇒ the value is PROVABLY absent.
    * No bloom in the sidecar, or a value class the bloom doesn't track
    * (doubles, booleans) ⇒ true (range check alone decides).
    */
  private def bloomMay(st: FileStats, a: String, v: Any): Boolean =
    st.cols.get(a).forall { c =>
      (c.bloom, AvroBloom.canonical(v)) match {
        case (Some(words), Some(s)) => AvroBloom.mayContain(words, s)
        case _ => true
      }
    }

  // None = stats unavailable for a definite verdict (⇒ caller keeps file).
  // Long-typed stats (our sink's output for long/int columns) compare
  // exactly; double-typed stats are widened by one ULP beyond 2^53 —
  // a legacy sidecar that stored a long min/max as a round-to-nearest
  // double may be off by up to half a ULP in EITHER direction, and a max
  // that rounded DOWN would otherwise wrongly skip a whole file. Below
  // 2^53 every integral double is exact and no widening applies, so
  // pruning strength is unchanged for ordinary data.
  private val TwoPow53 = 9007199254740992d
  private def widenDown(m: Double): Double =
    if (math.abs(m) >= TwoPow53) math.nextDown(m) else m
  private def widenUp(m: Double): Double =
    if (math.abs(m) >= TwoPow53) math.nextUp(m) else m
  private def cmpMin(st: FileStats, a: String, v: Any): Option[Int] =
    st.cols.get(a).flatMap { c =>
      v match {
        case n: Number => c.minL match {
          case Some(l) => Some(AvroFilters.cmpNum(java.lang.Long.valueOf(l), n))
          case None => c.minD.map(m =>
            AvroFilters.cmpNum(java.lang.Double.valueOf(widenDown(m)), n))
        }
        case s: String => c.minS.map(AvroFilters.utf8Cmp(_, s))
        case _ => None
      }
    }
  private def cmpMax(st: FileStats, a: String, v: Any): Option[Int] =
    st.cols.get(a).flatMap { c =>
      v match {
        case n: Number => c.maxL match {
          case Some(l) => Some(AvroFilters.cmpNum(java.lang.Long.valueOf(l), n))
          case None => c.maxD.map(m =>
            AvroFilters.cmpNum(java.lang.Double.valueOf(widenUp(m)), n))
        }
        case s: String => c.maxS.map(AvroFilters.utf8Cmp(_, s))
        case _ => None
      }
    }
  private def inRange(st: FileStats, a: String, v: Any,
      lowOk: Int, highOk: Int): Boolean =
    cmpMin(st, a, v).forall(_ <= lowOk) && cmpMax(st, a, v).forall(_ >= highOk)
}

private[sources] class AvroTable(schema: StructType, pathStr: String,
    files: Seq[(String, Long)], splitBytes: Long,
    partSpec: Seq[(String, String)] = Seq.empty,
    // false for time-travel / explicit-subset reads: the sort marker
    // describes the LATEST layout only (AvroSortMarker doc)
    mayReportOrdering: Boolean = true)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft-avro($pathStr)"

  // -- `_file` metadata column (r19): the container path of each row —
  // the provenance column (parquet's _metadata.file_path analogue), and
  // the GROUP IDENTITY the row-level operations key on: Spark's
  // group-based rewrite resolves requiredMetadataAttributes against
  // these, which routes the replacement rows through the projecting
  // writing task (the writer then sees clean data rows) and is the
  // hook runtime group filtering hangs off.
  override def metadataColumns():
      Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = AvroDsv2.FileColumn
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "container file path of the row (graft-avro)"
    })

  // -- SQL UPDATE / MERGE INTO / rewrite-shaped DELETE (r19) ------------
  // Group-based (copy-on-write) row-level operations: Spark rewrites the
  // affected container files through [[AvroRowLevelOperation]]'s scan +
  // replace-write. Translatable DELETEs still short-circuit to the
  // metadata tier above (OptimizeMetadataOnlyDeleteFromTable consults
  // canDeleteWhere); UPDATE assignments are arbitrary expressions —
  // evaluated by Spark in the rewrite query, not by this source.
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build():
          org.apache.spark.sql.connector.write.RowLevelOperation =
        new AvroRowLevelOperation(info.command(), schema, pathStr,
          files, splitBytes, partSpec)
    }

  // -- DELETE (r17 partition grain; r18 row grain) ----------------------
  // Two tiers, chosen PER FILE from the predicate's column references:
  //  * partition tier: a conjunct set whose references are all partition
  //    columns decides a whole file exactly from its path values — TRUE
  //    unlinks the file (zero reads), FALSE or UNKNOWN (SQL DELETE
  //    removes only definitely-TRUE rows) keeps it byte-identical.
  //  * row tier (r18): conjuncts touching DATA columns first prune with
  //    the sidecar zone maps / blooms — a file whose stats PROVE no row
  //    can match stays byte-identical — then rewrite ONLY the may-match
  //    files copy-on-write ([[AvroRewrite]]): stream the container,
  //    drop definitely-TRUE rows, regenerate the sidecar (file stats +
  //    block zone maps), and swap in place through a crash-ordered
  //    sidecar-out / overwrite-rename / sidecar-in protocol. At 100 TB a
  //    `DELETE WHERE fingerprint IN (dup set)` reads the bloom-positive
  //    containers only — the dedup-apply and GDPR-erasure shapes.
  // Rewrites fan out as one Spark task per may-match file when a session
  // is active (the 1000-executor path); idempotent and re-runnable after
  // a crash (every interruption point leaves a correct, readable table —
  // at worst missing a sidecar). Unsupported predicate SHAPES (Not,
  // EqualNullSafe, functions) still throw rather than guess.
  private lazy val partNameSet = partSpec.map(_._1).toSet
  private lazy val dataNameSet = schema.fieldNames.toSet
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f =>
      // an unconditional `DELETE FROM t` arrives as AlwaysTrue (or an
      // empty array) — trivially the whole-file unlink tier
      f == org.apache.spark.sql.sources.AlwaysTrue ||
        (AvroFilters.supported(f) && f.references.nonEmpty &&
          f.references.forall(n =>
            partNameSet.contains(n) || dataNameSet.contains(n))))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    if (!canDeleteWhere(filters))
      throw new UnsupportedOperationException(
        s"graft-avro: DELETE supports comparison/null/In/Or predicates " +
          s"over the table's columns; got " +
          s"${filters.mkString("[", ", ", "]")}")
    val conf = AvroSink.driverConf()
    // whole-file tiers: a removes-only swap — unlinks on a plain table,
    // drops the files from the next manifest on a versioned one (time
    // travel keeps the bytes until expire)
    def drop(doomed: Seq[String]): Unit =
      AvroRlo.commitReplace(conf, pathStr, AvroRlo.newOpId(), Seq.empty,
        doomed, "delete")
    // unconditional delete: every file goes, zero reads
    val effective = filters.filterNot(_ ==
      org.apache.spark.sql.sources.AlwaysTrue)
    if (effective.isEmpty) {
      drop(AvroVersions.resolveFiles(pathStr, conf)
        .getOrElse(AvroDsv2.listFiles(pathStr, conf)).map(_._1))
      return
    }
    // partition conjuncts evaluate exactly per file from its path; the
    // rest prune through the sidecar zone maps / blooms (conservative on
    // mixed-reference conjuncts) — shared with the UPDATE tier
    val (candidates, dataFilters, targets) =
      AvroRewrite.splitAndPrune(pathStr, conf, effective, partSpec)
    if (dataFilters.isEmpty) {
      drop(candidates) // pure partition delete: zero container reads
      return
    }
    // rewrite fan-out (orphan-temp sweep, one task per may-match file,
    // abort-sweep on failure), then the commit shared with UPDATE
    val outcomes = AvroRewrite.cowFanout(pathStr, conf, targets, partSpec,
      ".graft-del-", (p, pv) => AvroRewrite.deleteRewrite(p, pv, effective))
    AvroRewrite.commitOutcomes(conf, pathStr, outcomes, "delete")
  }
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    // the table's own committed partition spec is the default layout —
    // what makes a SQL `INSERT INTO` through [[AvroCatalog]] (no write
    // options) land in the partitioned layout; the explicit
    // `graft.partitionby` option (path-API writes) still wins
    new AvroWriteBuilder(info, pathStr, partSpec.map(_._1))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(schema, pathStr, files, splitBytes,
      AvroStreamOpts(
        Option(options.get("graft.maxfilespertrigger")).map(_.toInt),
        Option(options.get("graft.seenlog")).exists(_.toBoolean),
        Option(options.get("graft.seenlog.retain")).map(_.toInt)),
      partSpec,
      Option(options.get("graft.spj")).exists(_.toBoolean),
      mayReportOrdering)
}

/** Streaming-tail knobs parsed from the read options. */
private[sources] case class AvroStreamOpts(
    maxFilesPerTrigger: Option[Int] = None,
    seenLog: Boolean = false,
    retainBatches: Option[Int] = None)

private[sources] class AvroScanBuilder(fullSchema: StructType,
    pathStr: String, files: Seq[(String, Long)], splitBytes: Long,
    streamOpts: AvroStreamOpts = AvroStreamOpts(),
    partSpec: Seq[(String, String)] = Seq.empty,
    spj: Boolean = false,
    mayReportOrdering: Boolean = true)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters with SupportsPushDownAggregates {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  // sidecar reads memoized across the WHOLE planning lifecycle — the
  // aggregate-pushdown probe AND the ordinary scan it may decline into
  // (pruning, estimateStatistics) consult the same files; without the
  // shared cache a declined pushdown costs O(2×files) driver JSON
  // parses per query (r16 ADVICE)
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[AvroStats.FileStats]]()
  private def statsOf(path: String): Option[AvroStats.FileStats] =
    statsCache.computeIfAbsent(path, p => AvroStats.read(p))
  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve ONLY requested fields (Spark hands them back in read order)
    required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(AvroFilters.supported)
    // everything stays residual: the scan's evaluation only SKIPS rows;
    // Spark's Filter above re-checks, so a conservative eval is safe
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  // -- metadata-only aggregate pushdown (r16; SUM r17) ------------------
  // A COUNT(*)/COUNT(col)/MIN/MAX/SUM over a graft-avro dataset — global
  // or GROUPED BY PARTITION COLUMNS — is answerable ENTIRELY from the
  // sidecars and the partition paths: the scan never opens a single
  // container — at 100 TB, `SELECT lang, count(*), sum(n) ... GROUP BY
  // lang` costs one sidecar read per file instead of a full-table scan
  // (avg rides for free: Spark's partial rewrite splits it into
  // sum/count, both pushed). Strictly conservative: any file without a
  // sidecar, any unsupported function (distinct, double sums, UDAFs),
  // any group-by on a DATA column, or any pushed filter (residual
  // re-filtering above an aggregate is impossible) declines, and Spark
  // runs the ordinary scan+aggregate plan.
  private var aggResult: Option[(Aggregation, Option[(StructType, Seq[Array[Any]])])] = None

  private def computeAgg(agg: Aggregation): Option[(StructType, Seq[Array[Any]])] = {
    aggResult match {
      case Some((prev, res)) if prev == agg => return res
      case _ => ()
    }
    val res = AvroAggPush.tryCompute(agg, fullSchema, files, pushed, partSpec,
      statsOf)
    aggResult = Some((agg, res))
    res
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    computeAgg(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean =
    computeAgg(agg).isDefined

  override def build(): Scan =
    aggResult match {
      case Some((agg, Some((schema, rows)))) =>
        new AvroAggScan(schema, rows,
          (agg.groupByExpressions().map(g => s"group:$g")
            ++ agg.aggregateExpressions().map(_.toString)).mkString(", "))
      case _ =>
        new AvroScan(required, pathStr, files, splitBytes, pushed, streamOpts,
          partSpec, statsCache, spj, mayReportOrdering)
    }
}

/** Sidecar + partition-path evaluation of a pushed aggregation — the
  * shared logic behind [[AvroScanBuilder.pushAggregation]]. Handles a
  * GLOBAL aggregation (one row) and one GROUPED BY PARTITION COLUMNS
  * (one row per observed group, the composition of the r16 layout and
  * pushdown features: `GROUP BY lang` groups files by directory).
  * Returns the (schema, rows) of the COMPLETE result — group columns
  * first, then aggregates, the V2ScanRelationPushDown contract — or
  * None when anything at all prevents an exact metadata answer.
  */
private[sources] object AvroAggPush {
  import org.apache.spark.sql.connector.expressions.Expression

  private def fieldOf(e: Expression): Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 =>
      Some(r.fieldNames()(0))
    case _ => None
  }

  // Spark's ordering: NaN is GREATER than every double. A file whose
  // values are all NaN has no stored minD/maxD but nans > 0.
  private def foldMin(acc: Option[Double], v: Double): Option[Double] =
    Some(acc.fold(v)(a =>
      if (java.lang.Double.compare(v, a) < 0) v else a))
  private def foldMax(acc: Option[Double], v: Double): Option[Double] =
    Some(acc.fold(v)(a =>
      if (java.lang.Double.compare(v, a) > 0) v else a))

  // generic Spark-ordering min/max over typed java partition values
  private def ordCmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
    case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
    case (x: String, y: String) => AvroFilters.utf8Cmp(x, y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case _ => 0
  }

  private def toCatalyst(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case other => other
  }

  def tryCompute(agg: Aggregation, schema: StructType,
      files: Seq[(String, Long)],
      pushedFilters: Array[Filter],
      partSpec: Seq[(String, String)] = Seq.empty,
      statsOf: String => Option[AvroStats.FileStats] = AvroStats.read)
      : Option[(StructType, Seq[Array[Any]])] = {
    if (pushedFilters.nonEmpty) return None
    val partTypes = partSpec.toMap
    val partNames = partTypes.keySet
    // group-by columns must all be PARTITION columns (path-derived,
    // exact); a data-column group needs the rows themselves
    val groupCols: Seq[String] =
      agg.groupByExpressions().toSeq.map(e => fieldOf(e) match {
        case Some(n) if partNames.contains(n) => n
        case _ => return None
      })

    final case class F(rows: Long, stats: AvroStats.FileStats,
        part: Map[String, Any])
    val all: Seq[F] = files.map { case (p, _) =>
      val st = statsOf(p) match {
        case Some(s) => s
        case None => return None // any sidecar-less file: full scan
      }
      // a sidecar WITHOUT a row count cannot answer count(*) (and its
      // partition value must not fabricate a group): decline outright
      val rows = st.rows.getOrElse(return None)
      val raw = AvroPartitions.rawValuesOf(p, partNames)
      F(rows, st, partNames.iterator.map(n =>
        n -> raw.get(n).map(AvroPartitions.typed(_, partTypes(n))).orNull).toMap)
    }.filter(_.rows > 0) // a 0-row container defines no group

    def sparkType(name: String): Option[DataType] =
      schema.fields.find(_.name.equalsIgnoreCase(name)).map(_.dataType)

    // groups in observed order; the GLOBAL case is the single all-files
    // "group" with no key columns
    val groups: Seq[(Seq[Any], Seq[F])] =
      if (groupCols.isEmpty) Seq((Seq.empty, all))
      else all.groupBy(f => groupCols.map(f.part)).toSeq
        .map { case (k, fs) => (k, fs) }

    val fields = Vector.newBuilder[StructField]
    groupCols.foreach { n =>
      fields += StructField(n, sparkType(n).getOrElse(return None),
        nullable = true)
    }

    // evaluate one aggregate function over one group's files; appends
    // the field on the FIRST group only (schema is group-independent)
    def evalFunc(f: AggregateFunc, i: Int, fs: Seq[F],
        emitField: Boolean): Any = {
      def colStats(name: String): Option[Seq[AvroStats.Col]] = {
        val cs = fs.map(_.stats.cols.get(name))
        if (cs.forall(_.isDefined)) Some(cs.map(_.get)) else None
      }
      f match {
        case _: CountStar =>
          if (emitField)
            fields += StructField(s"agg_${i}_count_star", LongType, nullable = false)
          java.lang.Long.valueOf(fs.map(_.rows).sum)
        case c: Count if !c.isDistinct =>
          val name = fieldOf(c.column()).getOrElse(return NoAnswer)
          if (emitField)
            fields += StructField(s"agg_${i}_count_$name", LongType, nullable = false)
          if (partNames.contains(name))
            // a partition value covers ALL rows of its file
            java.lang.Long.valueOf(fs.map(x =>
              if (x.part(name) == null) 0L else x.rows).sum)
          else {
            val cs = colStats(name).getOrElse(return NoAnswer)
            java.lang.Long.valueOf(
              fs.zip(cs).map { case (x, c0) => x.rows - c0.nulls }.sum)
          }
        case mm @ (_: Min | _: Max) =>
          val isMin = mm.isInstanceOf[Min]
          val col = mm match {
            case m: Min => m.column(); case m: Max => m.column()
            case _ => return NoAnswer
          }
          val name = fieldOf(col).getOrElse(return NoAnswer)
          val dt = sparkType(name).getOrElse(return NoAnswer)
          val tag = if (isMin) "min" else "max"
          if (emitField)
            fields += StructField(s"agg_${i}_${tag}_$name", dt, nullable = true)
          if (partNames.contains(name)) {
            // path-derived: min/max over the files' own partition values
            val vs = fs.map(_.part(name)).filter(_ != null)
            if (vs.isEmpty) null
            else toCatalyst(vs.reduce((a, b) =>
              if ((ordCmp(a, b) < 0) == isMin) a else b))
          } else dt match {
            case LongType | IntegerType =>
              val cs = colStats(name).getOrElse(return NoAnswer)
              val bs = cs.flatMap(c => if (isMin) c.minL else c.maxL)
              // a long/int column whose stats carry doubles (foreign
              // sidecar) must not answer via lossy values
              if (cs.exists(c => c.minD.isDefined || c.minS.isDefined))
                return NoAnswer
              // a file contributing NO bound must PROVE the column
              // all-null there (nulls == rows) — a foreign sidecar with
              // a col entry but no min/max would otherwise silently
              // answer from the OTHER files' bounds (r17 review)
              fs.zip(cs).foreach { case (x, c) =>
                if (c.minL.isEmpty && c.nulls < x.rows) return NoAnswer
              }
              if (bs.isEmpty) null
              else {
                val v = if (isMin) bs.min else bs.max
                if (dt == LongType) java.lang.Long.valueOf(v)
                else java.lang.Integer.valueOf(v.toInt)
              }
            case DoubleType =>
              val cs = colStats(name).getOrElse(return NoAnswer)
              // every file must RECORD its NaN count — a legacy sidecar
              // can hide a NaN that IS the true max under Spark ordering
              if (cs.exists(c => c.nans.isEmpty ||
                  c.minL.isDefined || c.minS.isDefined)) return NoAnswer
              // bound-less files must be provably all-null-or-NaN
              fs.zip(cs).foreach { case (x, c) =>
                if (c.minD.isEmpty &&
                    c.nulls + c.nans.getOrElse(0L) < x.rows) return NoAnswer
              }
              var acc: Option[Double] = None
              cs.foreach { c =>
                val b = if (isMin) c.minD else c.maxD
                b.foreach(v => acc = if (isMin) foldMin(acc, v) else foldMax(acc, v))
                // an all-NaN file contributes NaN (no stored min/max)
                if (b.isEmpty && c.nans.exists(_ > 0))
                  acc = if (isMin) foldMin(acc, Double.NaN) else foldMax(acc, Double.NaN)
                // a file with SOME NaN: max must still see it
                else if (!isMin && c.nans.exists(_ > 0))
                  acc = foldMax(acc, Double.NaN)
              }
              acc.map(java.lang.Double.valueOf).orNull
            case StringType =>
              val cs = colStats(name).getOrElse(return NoAnswer)
              val bs = cs.flatMap(c => if (isMin) c.minS else c.maxS)
              if (cs.exists(c => c.minD.isDefined || c.minL.isDefined))
                return NoAnswer
              // bound-less files must be provably all-null (this is
              // also what declines legacy-collation sidecars whose
              // non-ASCII bounds the reader dropped)
              fs.zip(cs).foreach { case (x, c) =>
                if (c.minS.isEmpty && c.nulls < x.rows) return NoAnswer
              }
              if (bs.isEmpty) null
              else UTF8String.fromString(bs.reduce((a, b) =>
                if ((AvroFilters.utf8Cmp(a, b) < 0) == isMin) a else b))
            case _ => return NoAnswer // boolean min/max: no stats recorded
          }
        case sm: Sum if !sm.isDistinct =>
          // SUM over long/int columns from the sidecars' exact per-file
          // long sums (r17) — partition columns answer from
          // path-value × row-count. Every fold uses checked arithmetic:
          // a cross-file overflow DECLINES (the ordinary scan then
          // reproduces Spark's own wrap semantics); doubles stay
          // declined (a float sum is order-dependent, never
          // metadata-exact). Avg is NOT answered directly — Spark's own
          // partial-aggregate rewrite turns avg into sum/count and both
          // halves push down, so `avg(x)` still plans zero container
          // reads with the division done above the metadata rows.
          val name = fieldOf(sm.column()).getOrElse(return NoAnswer)
          val dt = sparkType(name).getOrElse(return NoAnswer)
          if (dt != LongType && dt != IntegerType) return NoAnswer
          if (emitField)
            fields += StructField(s"agg_${i}_sum_$name", LongType,
              nullable = true)
          try {
            var acc = 0L; var any = false
            if (partNames.contains(name))
              fs.foreach { x =>
                x.part(name) match {
                  case null => ()
                  case v: java.lang.Long =>
                    acc = Math.addExact(acc,
                      Math.multiplyExact(v.longValue, x.rows)); any = true
                  case v: java.lang.Integer =>
                    acc = Math.addExact(acc,
                      Math.multiplyExact(v.longValue, x.rows)); any = true
                  case _ => return NoAnswer
                }
              }
            else {
              val cs = colStats(name).getOrElse(return NoAnswer)
              if (cs.exists(c => c.minD.isDefined || c.minS.isDefined))
                return NoAnswer // foreign sidecar with lossy stats
              fs.zip(cs).foreach { case (x, c) =>
                // bound-less files must be provably all-null: a foreign
                // sidecar with non-null rows but no recorded stats must
                // decline, not contribute zero
                if (c.minL.isEmpty && c.nulls < x.rows) return NoAnswer
                if (c.minL.isDefined) c.sumL match {
                  case Some(sv) => acc = Math.addExact(acc, sv); any = true
                  case None => return NoAnswer // task overflow / legacy sidecar
                }
              }
            }
            if (any) java.lang.Long.valueOf(acc) else null // all-null: SQL NULL
          } catch { case _: ArithmeticException => return NoAnswer }
        case _ => NoAnswer // avg/distinct/UDAF: not answered directly
      }
    }

    val rows = Vector.newBuilder[Array[Any]]
    groups.zipWithIndex.foreach { case ((key, fs), gi) =>
      val row = Vector.newBuilder[Any]
      key.foreach(v => row += toCatalyst(v))
      agg.aggregateExpressions().zipWithIndex.foreach { case (f, i) =>
        evalFunc(f, i, fs, emitField = gi == 0) match {
          case NoAnswer => return None
          case v => row += v
        }
      }
      rows += row.result().toArray
    }
    // a grouped aggregation over ZERO files has zero groups (correct),
    // but the scan schema must still carry the aggregate fields: dry-run
    // the functions over an empty file set purely for their StructFields
    if (groups.isEmpty)
      agg.aggregateExpressions().zipWithIndex.foreach { case (f, i) =>
        evalFunc(f, i, Seq.empty, emitField = true) match {
          case NoAnswer => return None
          case _ => ()
        }
      }
    // a GLOBAL aggregation always has its single row (built from `all`)
    Some((StructType(fields.result()), rows.result()))
  }

  /** Sentinel distinguishing "cannot answer" from a legitimate null. */
  private object NoAnswer
}

/** The metadata-only scan a fully pushed aggregation builds: ONE
  * partition, pre-computed rows (one for a global aggregate, one per
  * group for a partition-grouped one), ZERO container reads.
  */
private[graft] class AvroAggScan(aggSchema: StructType,
    rows: Seq[Array[Any]], pushedAggs: String) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-avro metadata-only aggregate, PushedAggregates: [$pushedAggs]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(AvroAggPartition(rows.toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new AvroAggReaderFactory()
}

private[sources] case class AvroAggPartition(rows: Array[Array[Any]])
  extends InputPartition

private[sources] class AvroAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[AvroAggPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i).clone())
      override def close(): Unit = ()
    }
}

/** The batch/streaming scan of one graft-avro read.
  *
  * Equality contract: two scans are equal iff every constructor input
  * that decides their rows is equal — the required schema, the path, the
  * listed files with their sizes, the split size, the pushed filters, the
  * stream options, the partition spec, `spj` and `mayReportOrdering`.
  * The shared sidecar cache and the mutable planning state
  * (`runtimeFilters`, `lastPlanned`, `lastPlannedBlocks`) are left out.
  * Spark's `BatchScanExec` compares its batch (this scan), so two reads of
  * one table with the same columns and filters plan equal scans, and
  * exchange reuse shares one shuffle or broadcast between them. A new
  * constructor input that changes the rows must join [[equals]].
  */
private[graft] class AvroScan(required: StructType, pathStr: String,
    files: Seq[(String, Long)], splitBytes: Long,
    val pushed: Array[Filter],
    streamOpts: AvroStreamOpts = AvroStreamOpts(),
    partSpec: Seq[(String, String)] = Seq.empty,
    sharedStatsCache: java.util.concurrent.ConcurrentHashMap[
      String, Option[AvroStats.FileStats]] =
      new java.util.concurrent.ConcurrentHashMap(),
    spj: Boolean = false,
    mayReportOrdering: Boolean = true) extends Scan with Batch
  with SupportsReportStatistics with SupportsRuntimeFiltering
  with SupportsReportPartitioning
  with SupportsReportOrdering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-avro ${files.size} file(s), ReadSchema: ${required.simpleString}, " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}"

  /** (surviving, total) file counts after sidecar pruning — exposed for
    * the zone-map audit tests. */
  @volatile private[sources] var lastPlanned: (Int, Int) = (0, 0)

  private def rowKey: Seq[Any] = Seq(required, pathStr, files, splitBytes,
    pushed.toSeq, streamOpts, partSpec, spj, mayReportOrdering)
  // computed once: the file list can be long
  private lazy val rowKeyHash = rowKey.hashCode
  override def hashCode(): Int = rowKeyHash
  override def equals(other: Any): Boolean = other match {
    case o: AvroScan =>
      (o eq this) || (o.hashCode == hashCode && o.rowKey == rowKey)
    case _ => false
  }

  private val partNames = partSpec.map(_._1).toSet
  private val partTypes = partSpec.toMap

  // -- storage-partitioned joins (r17) ---------------------------------
  // With `graft.spj=true` (and spark.sql.sources.v2.bucketing.enabled)
  // the scan reports a KeyGroupedPartitioning over the committed
  // partition spec and every split carries its partition-value key: a
  // join of two same-partitioned graft-avro tables on the partition
  // columns then plans with ZERO ShuffleExchange — Spark groups each
  // side's splits by key and zips matching groups (pushPartValues
  // aligns sides whose observed value sets differ). At 100 TB this is
  // the ingest-time layout amortizing every later join, the same
  // argument as bucketing but carried by the DSv2 source itself.
  //
  // OPT-IN per read, deliberately: once a scan reports KGP under the
  // enabled conf, Spark plans ONE input partition per partition VALUE
  // for every query — a full scan of a 3-language table collapses from
  // (files × splits) tasks to 3. Right for a co-partitioned join, wrong
  // for a plain scan, and the scan cannot know which query it serves —
  // so the reader of a join query asks for it explicitly.
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spj && partSpec.nonEmpty) {
      // key count from the PRUNED file set — the same set planSplits
      // starts from — so static pushed filters cannot inflate the
      // declared count past the actual distinct split keys. Runtime
      // (DPP) filters can still arrive after this is consulted; that
      // residual mismatch is pinned on Spark's documented behavior:
      // BatchScanExec regroups from the actual HasPartitionKey split
      // keys and ignores the declared numPartitions (r17 ADVICE)
      val distinctKeys = pruneFiles(files).map { case (p, _) =>
        val raw = AvroPartitions.rawValuesOf(p, partNames)
        partSpec.map { case (n, _) => raw.get(n).orNull }
      }.distinct.size
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          partSpec.map(p => org.apache.spark.sql.connector.expressions
            .Expressions.identity(p._1): org.apache.spark.sql.connector
            .expressions.Expression).toArray,
          distinctKeys)
    } else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(0)

  // -- reported per-partition ordering (r19) ----------------------------
  // Two sound sources, both conservative (AvroSortMarker doc):
  //  * the committed sort marker: every live container is sorted on the
  //    marker columns, and every split is a CONTIGUOUS range of one
  //    container — the longest marker PREFIX present in the read schema
  //    is a true per-partition order (a dropped prefix column breaks
  //    monotonicity of the rest, so only prefixes qualify);
  //  * under SPJ key grouping, every Spark partition holds ONE partition
  //    value — the partition columns are CONSTANT per partition, hence
  //    trivially sorted (reported ahead of the marker prefix, matching a
  //    merge join keyed on them). The marker prefix may only follow when
  //    each key group holds a single split (concatenated sorted files
  //    are not sorted), which planSplits cannot know here — so SPJ
  //    reports the constants alone.
  // What this buys: a sort-merge join or sorted aggregate over a
  // range-clustered (or co-partitioned) table elides its Sort — at
  // 100 TB that is the write-once-sort-never-again half of clustering.
  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (!mayReportOrdering) return Array.empty
    def asc(c: String): org.apache.spark.sql.connector.expressions.SortOrder =
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
        org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST)
    val readCols = required.fieldNames.toSet
    if (spj && partSpec.nonEmpty)
      partSpec.map(_._1).filter(readCols.contains).map(asc).toArray
    else {
      val marker = AvroSortMarker.read(pathStr, AvroSink.driverConf())
      marker.takeWhile(readCols.contains).map(asc).toArray
    }
  }

  /** The typed catalyst partition-key row of a file's path (spec order),
    * carried by each split for Spark's key grouping.
    */
  private def partKeyOf(path: String): InternalRow = {
    val raw = AvroPartitions.rawValuesOf(path, partNames)
    new GenericInternalRow(partSpec.map { case (n, t) =>
      raw.get(n).map(AvroPartitions.typed(_, t)).orNull match {
        case s: String => UTF8String.fromString(s)
        case v => v
      }
    }.toArray[Any])
  }

  // runtime filters injected AFTER planning (dynamic partition pruning:
  // Spark derives them from a join's build side and hands them to the
  // scan before planInputPartitions) — same pruning machinery as the
  // static pushed filters: exact on partition columns, zone-map/bloom
  // conservative on data columns. Correctness is unconditional: the
  // join above re-checks every surviving row, so pruning may only SKIP.
  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  override def filterAttributes(): Array[NamedReference] =
    required.fieldNames.map(org.apache.spark.sql.connector.expressions
      .Expressions.column)
  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.filter(AvroFilters.supported)

  // sidecar reads memoized for the scan's lifetime — the cache is
  // SHARED with the AvroScanBuilder that built this scan (r16 ADVICE:
  // a declined aggregate probe already parsed every sidecar; planning
  // must not parse them all again), and planning may consult it
  // repeatedly (estimateStatistics during optimization, pruneFiles at
  // planning, the streaming tail per batch)
  private val statsCache = sharedStatsCache
  private def statsOf(path: String): Option[AvroStats.FileStats] =
    statsCache.computeIfAbsent(path, p => AvroStats.read(p))

  /** Planning-time statistics from the metadata the sink already wrote:
    * bytes = the (pruned) file lengths, rows = the sidecar row counts
    * when EVERY surviving file has one (a sidecar without a `rows` field
    * reads as UNKNOWN, never 0 — an understated numRows would
    * auto-broadcast a huge table). Catalyst's join planning sees a small
    * graft-avro dimension as small and auto-broadcasts it — no explicit
    * broadcast() hint needed (DataSourceV2Relation.computeStats consumes
    * this).
    */
  override def estimateStatistics(): Statistics = {
    val surviving = pruneFiles(files)
    val bytes = surviving.map(_._2).sum
    val fileStats = surviving.map { case (p, _) => (p, statsOf(p)) }
    val rowCounts = fileStats.map(_._2.flatMap(_.rows))
    // -- per-column statistics for Catalyst's CBO (r18) ------------------
    // NDV from the sidecars' max-merged HLL register blocks, null counts
    // exact, min/max for integral columns (the types FilterEstimation's
    // range math consumes directly) — what lets a selective filter on a
    // graft-avro dimension shrink its size estimate enough to flip a
    // join's build side to broadcast WITHOUT a hint. Strictly per-column
    // conservative: a column is reported only when EVERY surviving file
    // has a sidecar entry for it carrying the needed block (legacy or
    // foreign sidecars silently decline that column, never guess).
    val colStatsMap: java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (fileStats.nonEmpty && fileStats.forall(_._2.isDefined)) {
        val sts = fileStats.map(_._2.get)
        readSchema().fields.filterNot(f => partNames.contains(f.name))
          .foreach { f =>
            val cols = sts.map(_.cols.get(f.name))
            if (cols.forall(c => c.isDefined && c.get.hll.isDefined)) {
              val cs = cols.map(_.get)
              val merged = new Array[Byte](AvroHll.M)
              cs.foreach(c => AvroHll.mergeInto(merged, c.hll.get))
              val ndv = AvroHll.estimate(merged)
              val nullsTotal = cs.map(_.nulls).sum
              val (mn, mx): (Option[Any], Option[Any]) = f.dataType match {
                case LongType =>
                  (cs.flatMap(_.minL).minOption.map(java.lang.Long.valueOf(_): Any),
                    cs.flatMap(_.maxL).maxOption.map(java.lang.Long.valueOf(_): Any))
                case IntegerType =>
                  (cs.flatMap(_.minL).minOption.map(l => java.lang.Integer.valueOf(l.toInt): Any),
                    cs.flatMap(_.maxL).maxOption.map(l => java.lang.Integer.valueOf(l.toInt): Any))
                case _ => (None, None)
              }
              m.put(org.apache.spark.sql.connector.expressions.Expressions
                  .column(f.name),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(ndv)
                  override def nullCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(nullsTotal)
                  override def min(): java.util.Optional[Object] =
                    mn.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def max(): java.util.Optional[Object] =
                    mx.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                })
            }
          }
        // partition columns: NDV and null counts are EXACT from the
        // surviving paths — no sketch needed
        if (partSpec.nonEmpty && rowCounts.forall(_.isDefined)) {
          val reqNames = readSchema().fieldNames.toSet
          partSpec.filter(p => reqNames.contains(p._1)).foreach { case (n, t) =>
            val vals = surviving.map { case (p, _) =>
              AvroPartitions.rawValuesOf(p, partNames).get(n)
                .map(AvroPartitions.typed(_, t)).orNull
            }
            val nonNull = vals.filter(_ != null).distinct
            val nullRows = surviving.zip(vals).collect {
              case ((p, _), null) => statsOf(p).flatMap(_.rows).getOrElse(0L)
            }.sum
            m.put(org.apache.spark.sql.connector.expressions.Expressions
                .column(n),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(math.max(1L, nonNull.size.toLong))
                override def nullCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(nullRows)
              })
          }
        }
      }
      m
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        if (rowCounts.forall(_.isDefined))
          java.util.OptionalLong.of(rowCounts.flatten.sum)
        else java.util.OptionalLong.empty()
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStatsMap
    }
  }

  private def splitFilters(fs: Array[Filter]): (Array[Filter], Array[Filter]) =
    fs.partition(f => partNames.nonEmpty
      && f.references.nonEmpty && f.references.forall(partNames.contains))

  private def partValueGetter(path: String): String => Any = {
    val raw = AvroPartitions.rawValuesOf(path, partNames)
    name => raw.get(name).map(AvroPartitions.typed(_, partTypes(name))).orNull
  }

  /** Partition-directory + sidecar pruning of a file list under the
    * static pushed filters plus any runtime (DPP) filters.
    */
  private def pruneFiles(input: Seq[(String, Long)]): Seq[(String, Long)] = {
    // pushed filters referencing ONLY partition columns are evaluated
    // EXACTLY per file from its path (partition pruning); the rest go
    // to the sidecar zone maps. A file whose stats prove no row can
    // match is dropped BEFORE split planning — at 100 TB this is the
    // difference between listing-and-skipping and opening every
    // container.
    val (partFilters, dataFilters) = splitFilters(pushed ++ runtimeFilters)
    val partPruned =
      if (partFilters.isEmpty) input
      else input.filter { case (path, _) =>
        val get = partValueGetter(path)
        partFilters.forall(AvroFilters.eval(_, get))
      }
    if (dataFilters.isEmpty) partPruned
    else partPruned.filter { case (path, _) =>
      statsOf(path) match {
        case Some(st) => dataFilters.forall(AvroStats.mayMatch(_, st))
        case None => true // no/unreadable sidecar: never skip
      }
    }
  }

  /** (kept, total) intra-file block counts of the last planning pass —
    * exposed for the block-skipping audit tests. */
  @volatile private[sources] var lastPlannedBlocks: (Int, Int) = (0, 0)

  /** Merge consecutive kept blocks into split ranges, chunked at
    * `splitBytes`. Block i's split range is anchored 16 bytes BEFORE
    * the sync position ending block i−1 (so the reader's
    * `sync(start)` lands exactly on that marker and begins at block i,
    * under either reading of DataFileWriter.sync()'s return — before
    * or after its own marker bytes); the last block's range runs to
    * the file end.
    */
  private def blockRuns(blocks: Seq[AvroStats.Block], kept: Seq[Boolean],
      len: Long): Seq[(Long, Long)] = {
    val bounds = blocks.indices.map { i =>
      val s0 = if (i == 0) 0L else blocks(i - 1).endSync - 16
      val e0 = if (i == blocks.length - 1) len else blocks(i).endSync - 16
      (s0, e0)
    }
    val cap = math.max(1L, splitBytes)
    val runs = Seq.newBuilder[(Long, Long)]
    var cur: Option[(Long, Long)] = None
    bounds.zip(kept).foreach { case ((s0, e0), k) =>
      if (!k) { cur.foreach(runs += _); cur = None }
      else cur match {
        case Some((rs, _)) if e0 - rs <= cap => cur = Some((rs, e0))
        case Some(r) => runs += r; cur = Some((s0, e0))
        case None => cur = Some((s0, e0))
      }
    }
    cur.foreach(runs += _)
    runs.result()
  }

  /** Pruning + sync-range split planning, shared by the batch path and
    * the streaming tail's per-batch file slices. Within a surviving
    * file, BLOCK-level zone maps (r17) drop split ranges whose recorded
    * min/max cannot satisfy the data filters — the row-group-skipping
    * rung on top of whole-file pruning: a selective probe into a sorted
    * 100 TB container reads a handful of blocks, not the file.
    * Conservative throughout: foreign/implausible block lists (non-
    * monotonic, out of range, zero rows) fall back to plain byte-range
    * splits, and a block is only SKIPPED when provably unsatisfiable.
    */
  private[sources] def planSplits(input: Seq[(String, Long)]): Array[InputPartition] = {
    val surviving = pruneFiles(input)
    lastPlanned = (surviving.size, input.size)
    val (_, dataFilters) = splitFilters(pushed ++ runtimeFilters)
    var keptB = 0; var totalB = 0
    def byteSplits(path: String, len: Long, raw: Map[String, String],
        key: InternalRow): Seq[AvroSplit] = {
      val step = math.max(1L, splitBytes)
      (0L until math.max(1L, (len + step - 1) / step)).map { i =>
        AvroSplit(path, i * step, math.min(len, (i + 1) * step), raw, key)
      }
    }
    val out = surviving.flatMap { case (path, len) =>
      val key = if (spj && partSpec.nonEmpty) partKeyOf(path) else null
      val raw =
        if (partSpec.isEmpty) Map.empty[String, String]
        else AvroPartitions.rawValuesOf(path, partNames)
      val blocks =
        if (dataFilters.isEmpty) Seq.empty
        else statsOf(path).map(_.blocks).getOrElse(Seq.empty)
      val plausible = blocks.size >= 2 &&
        blocks.forall(b => b.rows > 0 && b.endSync > 16 && b.endSync <= len) &&
        blocks.zip(blocks.tail).forall { case (a, b) => a.endSync < b.endSync }
      if (!plausible) byteSplits(path, len, raw, key)
      else {
        val kept = blocks.map(b => dataFilters.forall(f =>
          AvroStats.mayMatch(f, AvroStats.FileStats(Some(b.rows), b.cols))))
        totalB += blocks.size
        keptB += kept.count(identity)
        if (kept.forall(identity)) byteSplits(path, len, raw, key)
        else blockRuns(blocks, kept, len).map { case (s0, e0) =>
          AvroSplit(path, s0, e0, raw, key)
        }
      }
    }.toArray[InputPartition]
    lastPlannedBlocks = (keptB, totalB)
    out
  }

  override def planInputPartitions(): Array[InputPartition] = planSplits(files)

  // runtime (DPP) filters prune FILES only, never the record loop: a
  // DPP-derived In-list is a data-dependent build-side key set that can
  // hold thousands of values — an O(|values|) linear probe per decoded
  // record could cost more than the pruning saves, and the join above
  // re-checks every row anyway. Static pushed filters (small user
  // literals) keep their record-level evaluation.
  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(required.fieldNames, pushed, partSpec)

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // both tail protocols key on the PHYSICAL listing; on a versioned
    // table a COW rewrite would re-deliver rewritten containers (old
    // and new names both admitted) — refuse rather than duplicate (r19)
    require(!AvroVersions.isVersioned(pathStr, AvroSink.driverConf()),
      s"graft-avro: streaming reads of a VERSIONED table are not " +
        s"supported ($pathStr has a ${AvroVersions.LogDirName}); read " +
        s"batch snapshots (graft.versionasof) or the change feed " +
        s"(AvroVersions.changes) instead")
    if (streamOpts.seenLog)
      new AvroSeenLogStream(this, pathStr, checkpointLocation,
        streamOpts.maxFilesPerTrigger, streamOpts.retainBatches)
    else {
      // fail FAST, not silently: partition directories do not sort
      // monotonically, so the filename-watermark protocol would
      // permanently drop a new `lang=aa` directory below a processed
      // `lang=zz` — a known-broken combination, not a mode choice
      require(partSpec.isEmpty,
        "graft-avro: a PARTITIONED layout must stream with the seen-log " +
          "tail (.option(\"graft.seenlog\", \"true\")) — partition " +
          "directory names do not sort monotonically, so the filename-" +
          "watermark protocol would silently drop late directories")
      new AvroMicroBatchStream(this, pathStr, streamOpts.maxFilesPerTrigger)
    }
  }
}

/** Streaming TAIL over a graft-avro directory — `spark.readStream
  * .format("graft-avro").load(dir)`: each micro-batch reads exactly the
  * container files that appeared since the last trigger, planned with
  * the same sync-marker splits, column pruning, record-level filter
  * evaluation and sidecar zone-map pruning as the batch scan.
  *
  * The offset is a lexicographic FILE-NAME WATERMARK (the greatest path
  * processed so far): a trigger reads the files in (start, end]. The
  * protocol therefore requires MONOTONE file names — later files must
  * sort after earlier ones (time-prefixed or sequence-numbered part
  * names; [[AvroSink]]'s deterministic part names within one directory
  * satisfy it per write). A late file sorting at or below the watermark
  * is ignored — the documented contract of THIS mode; opt into
  * `graft.seenlog=true` ([[AvroSeenLogStream]], r16) when producers
  * cannot guarantee monotone names and late arrivals must be admitted.
  * A PARTITIONED layout (r16) should always use the seen-log mode: new
  * files land under `col=value` directories whose names do NOT sort
  * monotonically (a new `lang=aa` file sorts below a processed
  * `lang=zz` watermark and would be silently ignored here).
  * Exactly-once per file: watermark intervals partition the name space,
  * so a file belongs to exactly one micro-batch.
  */
private[sources] class AvroMicroBatchStream(scan: AvroScan, pathStr: String,
    maxFilesPerTrigger: Option[Int] = None)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  // the SESSION's Hadoop conf (captured at stream construction, on the
  // driver): spark.hadoop.* filesystem settings that work for the batch
  // path must work for the per-trigger re-list too
  private val conf = AvroSink.driverConf()
  private def watermarkOf(o: Offset): String =
    o.asInstanceOf[AvroStreamOffset].watermark

  // Trigger.AvailableNow: the target is FROZEN at query start so the
  // drain terminates even while new files keep landing; each capped
  // batch advances toward it and the query stops at the frozen mark
  @volatile private var availableNowTarget: Option[String] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(watermarkOf(latestOffset()))

  override def initialOffset(): Offset = AvroStreamOffset("")
  override def latestOffset(): Offset = {
    val files = AvroDsv2.listFiles(pathStr, conf)
    AvroStreamOffset(if (files.isEmpty) "" else files.last._1)
  }
  /** Admission control: `graft.maxfilespertrigger` bounds how many new
    * files one micro-batch admits — the backlog lever: a tail starting
    * against a month of accumulated containers must chunk the catch-up
    * into bounded batches, not read the whole backlog as one giant one.
    * Under Trigger.AvailableNow repeated capped batches run until the
    * frozen target is reached.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = watermarkOf(start)
    val pending0 = AvroDsv2.listFiles(pathStr, conf).map(_._1).filter(_ > lo)
    val pending = availableNowTarget
      .map(t => pending0.filter(_ <= t)).getOrElse(pending0)
    val capped = limit match {
      case mf: ReadMaxFiles => pending.take(mf.maxFiles())
      case _ => pending
    }
    AvroStreamOffset(if (capped.isEmpty) lo else capped.last)
  }
  override def reportLatestOffset(): Offset = latestOffset()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = watermarkOf(start); val hi = watermarkOf(end)
    scan.planSplits(AvroDsv2.listFiles(pathStr, conf)
      .filter { case (p, _) => p > lo && p <= hi })
  }
  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()
  override def deserializeOffset(json: String): Offset =
    AvroStreamOffset(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[String]))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class AvroStreamOffset(watermark: String)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(watermark)
}

/** Offset of the seen-log tail: a SEQUENCE NUMBER into the source's own
  * batch log under the checkpoint — the FileStreamSource shape, where
  * the offset names a logged file-set rather than encoding it.
  */
private[sources] case class AvroSeqOffset(seq: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = seq.toString
}

/** Seen-files-log streaming tail (`graft.seenlog=true`, r16) — the
  * production-hardened alternative to the filename-watermark protocol:
  * a file is NEW iff its name has not been processed before, so a LATE
  * file sorting below every processed name is still admitted, exactly
  * once. The price is source-side state: the set of processed names,
  * persisted FileStreamSource-style in the query checkpoint
  * (`<checkpoint>/graft-seen/batch-<seq>` = the file list of micro-batch
  * seq, written atomically via temp+rename BEFORE the offset is
  * returned, so a restart replays an uncommitted batch from its logged
  * file-set bit-for-bit).
  *
  * Exactly-once across crashes: if the driver dies after a batch file
  * was logged but before the engine recorded its offset, the next
  * `latestOffset(start, _)` sees `start.seq < lastSeq` and ROLLS BACK
  * the orphan batches (deletes their log entries and un-marks their
  * files) — they were never visible to the engine, so their files must
  * become pending again, not silently vanish into the seen set.
  *
  * Retention (`graft.seenlog.retain` = R batches): on commit, batches
  * older than `end - R` are retired — their names fold into a
  * lexicographic FLOOR below which new names are refused (else dropping
  * them from the seen set would re-admit them), the floor is persisted,
  * and their log files are deleted. Bounded state at 100 TB: the seen
  * set holds at most R batches of names, the same contract as
  * FileStreamSource's maxFileAge, with the same documented caveat that
  * a file arriving later than the whole retention window is ignored.
  */
private[sources] class AvroSeenLogStream(scan: AvroScan, pathStr: String,
    checkpointLocation: String, maxFilesPerTrigger: Option[Int],
    retainBatches: Option[Int])
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  retainBatches.foreach(r => require(r >= 1,
    s"graft.seenlog.retain must be >= 1, got $r"))

  private val conf = AvroSink.driverConf()
  private val logDir = new Path(checkpointLocation, "graft-seen")
  private val fs = logDir.getFileSystem(conf)
  private def om = new com.fasterxml.jackson.databind.ObjectMapper()

  // driver-side state, rebuilt from the checkpoint log at construction;
  // MicroBatchExecution drives the source from a single thread
  private val batches = scala.collection.mutable.TreeMap.empty[Long, Array[String]]
  private val seen = scala.collection.mutable.HashSet.empty[String]
  private var floor: String = ""
  private var lastSeq: Long = 0L

  if (fs.exists(logDir)) {
    val fl = new Path(logDir, "_floor")
    if (fs.exists(fl)) {
      val in = fs.open(fl)
      try floor = om.readValue(in: java.io.InputStream, classOf[String])
      finally in.close()
    }
    Option(fs.globStatus(new Path(logDir, "batch-*"))).getOrElse(Array.empty)
      .foreach { st =>
        val seq = st.getPath.getName.stripPrefix("batch-").toLong
        val in = fs.open(st.getPath)
        val files = try om.readValue(in: java.io.InputStream,
          classOf[Array[String]]) finally in.close()
        batches(seq) = files
        seen ++= files
        if (seq > lastSeq) lastSeq = seq
      }
  } else fs.mkdirs(logDir)

  private def atomicWrite(name: String, bytes: Array[Byte]): Unit = {
    val tmp = new Path(logDir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val dst = new Path(logDir, name)
    fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"graft-seen log: rename $tmp -> $dst failed")
  }

  private def seqOf(o: Offset): Long = o.asInstanceOf[AvroSeqOffset].seq

  private def pendingNow(): IndexedSeq[String] =
    AvroDsv2.listFiles(pathStr, conf).map(_._1)
      .filter(p => p > floor && !seen.contains(p))

  // Trigger.AvailableNow: freeze the pending SET (not a name watermark —
  // ordering means nothing here); each capped batch drains from it.
  // The freeze is LAZY — requested here, materialized inside the first
  // latestOffset(start, _) call AFTER the orphan rollback has run: a
  // crash that left an unacknowledged batch in the log would otherwise
  // have its files inside `seen` at prepare time, freezing a pending
  // set that excludes them and silently skipping them for the whole
  // drain (they were never emitted to the engine).
  @volatile private var freezeRequested = false
  @volatile private var frozenPending: Option[IndexedSeq[String]] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    freezeRequested = true
    frozenPending = None
  }

  override def initialOffset(): Offset = AvroSeqOffset(0L)
  override def latestOffset(): Offset = throw new IllegalStateException(
    "seen-log tail is driven through SupportsAdmissionControl")
  override def reportLatestOffset(): Offset = AvroSeqOffset(lastSeq)
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startSeq = seqOf(start)
    // orphan rollback: batches logged past the engine's restart point
    // were never recorded in the engine's offset log — their files must
    // become pending again (see class doc)
    while (lastSeq > startSeq) {
      batches.remove(lastSeq).foreach(seen --= _)
      fs.delete(new Path(logDir, s"batch-$lastSeq"), false)
      lastSeq -= 1
    }
    // the engine only asks for a NEXT offset once batch `start` is in
    // its commit log, so retention can run here too — commit() alone
    // lags one batch (it fires during the FOLLOWING batch's
    // construction) and would never retire the final batch of an
    // AvailableNow drain
    applyRetention(startSeq)
    if (freezeRequested && frozenPending.isEmpty)
      frozenPending = Some(pendingNow()) // rollback above has run
    val pending = frozenPending
      .map(_.filter(p => !seen.contains(p) && p > floor))
      .getOrElse(pendingNow())
    val capped = limit match {
      case mf: ReadMaxFiles => pending.take(mf.maxFiles())
      case _ => pending
    }
    if (capped.isEmpty) start
    else {
      val seq = lastSeq + 1
      atomicWrite(s"batch-$seq", om.writeValueAsBytes(capped.toArray))
      batches(seq) = capped.toArray
      seen ++= capped
      lastSeq = seq
      AvroSeqOffset(seq)
    }
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val files = ((seqOf(start) + 1) to seqOf(end)).flatMap { seq =>
      batches.getOrElse(seq, throw new IllegalStateException(
        s"graft-seen log: batch $seq missing from $logDir"))
    }
    // logged containers are immutable once written (sink contract);
    // a logged file deleted before replay fails loudly here
    scan.planSplits(files.map { p =>
      val st = new Path(p)
      (p, st.getFileSystem(conf).getFileStatus(st).getLen)
    })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()
  override def deserializeOffset(json: String): Offset =
    AvroSeqOffset(json.trim.toLong)

  /** Retire batches older than committed−R, folding their names into
    * the floor (persisted FIRST — a crash between the floor write and
    * the deletes only leaves redundant log files, never re-admits a
    * processed name).
    */
  private def applyRetention(committedSeq: Long): Unit =
    retainBatches.foreach { r =>
      val cut = committedSeq - r
      val retired = batches.rangeTo(cut).keys.toIndexedSeq
      if (retired.nonEmpty) {
        retired.foreach { seq =>
          val fls = batches(seq)
          if (fls.nonEmpty && fls.max > floor) floor = fls.max
        }
        atomicWrite("_floor", om.writeValueAsBytes(floor))
        retired.foreach { seq =>
          batches.remove(seq).foreach(seen --= _)
          fs.delete(new Path(logDir, s"batch-$seq"), false)
        }
      }
    }

  override def commit(end: Offset): Unit = applyRetention(seqOf(end))

  override def stop(): Unit = ()
}

private[sources] case class AvroSplit(path: String, start: Long, end: Long,
    partRaw: Map[String, String] = Map.empty,
    partKey: InternalRow = null)
  extends InputPartition with HasPartitionKey {
  // consulted only when the scan reports KeyGroupedPartitioning (the
  // graft.spj opt-in guarantees partKey was populated); splits of the
  // same partition value carry equal rows, Spark groups them with its
  // comparable wrapper
  override def partitionKey(): InternalRow = partKey
}

private[sources] class AvroReaderFactory(fieldNames: Array[String],
    pushed: Array[Filter],
    partSpec: Seq[(String, String)] = Seq.empty) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[AvroSplit]
    // path-borne partition values, typed once per split: the java form
    // for filter eval, the catalyst form for row assembly
    val partTypes = partSpec.toMap
    val partJava: Map[String, Any] = split.partRaw.map { case (n, raw) =>
      n -> AvroPartitions.typed(raw, partTypes(n))
    }
    val partCatalyst: Map[String, Any] = partJava.map {
      case (n, s: String) => n -> UTF8String.fromString(s)
      case (n, v) => n -> v
    }
    val isPart: Set[String] = partTypes.keySet
    new PartitionReader[InternalRow] {
      private val reader = new DataFileReader[GenericRecord](
        AvroDsv2.openSeekable(split.path),
        new GenericDatumReader[GenericRecord]())
      // field positions resolved against THIS FILE's writer schema: a
      // merged-schema read (r17) hands the reader columns that older
      // containers do not have — those read as null (GenericData.Record
      // throws on an unknown field NAME, so resolution happens here,
      // once per split, never per record)
      private val fileSchema = reader.getSchema
      // per required column: -3 = the `_file` metadata column (this
      // split's container path), -2 = path-borne partition value,
      // -1 = absent from this file (null-fill), else the field position
      private val fieldPos: Array[Int] = fieldNames.map { n =>
        if (n == AvroDsv2.FileColumn) -3
        else if (isPart.contains(n)) -2
        else Option(fileSchema.getField(n)).map(_.pos()).getOrElse(-1)
      }
      private val fileColValue = UTF8String.fromString(split.path)
      // the split protocol: first sync after start; stop past end's sync
      reader.sync(split.start)
      private var rec: GenericRecord = _
      private def fieldOf(name: String): Any =
        if (name == AvroDsv2.FileColumn) split.path
        else if (isPart.contains(name)) partJava.getOrElse(name, null)
        else {
          val f = fileSchema.getField(name)
          if (f == null) null // absent column: SQL null semantics
          else rec.get(f.pos()) match {
            case u: org.apache.avro.util.Utf8 => u // CharSequence: cmp handles it
            case v => v
          }
        }
      override def next(): Boolean = {
        while (reader.hasNext && !reader.pastSync(split.end)) {
          rec = reader.next(rec)
          // evaluate pushed filters BEFORE row conversion: a non-matching
          // record is dropped here, costing only its (row-major,
          // unavoidable) decode — no InternalRow, nothing upstream
          if (pushed.forall(AvroFilters.eval(_, fieldOf))) return true
        }
        false
      }
      override def get(): InternalRow = {
        val vals = new Array[Any](fieldNames.length)
        var i = 0
        while (i < fieldNames.length) {
          val pos = fieldPos(i)
          vals(i) =
            if (pos == -3) fileColValue
            else if (pos == -2) partCatalyst.getOrElse(fieldNames(i), null)
            else if (pos == -1) null
            else rec.get(pos) match {
              case null => null
              case u: org.apache.avro.util.Utf8 => UTF8String.fromString(u.toString)
              case s: java.lang.CharSequence => UTF8String.fromString(s.toString)
              case v => v
            }
          i += 1
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = reader.close()
    }
  }
}
