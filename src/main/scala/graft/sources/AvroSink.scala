package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SaveMode}

import scala.jdk.CollectionConverters._

/** Distributed Avro container EGRESS — the DSv2 write half of the
  * `graft-avro` path ([[AvroDataSourceV2]] is the read half), reachable
  * as `df.write.format("graft-avro").mode(...).save(dir)` and through
  * the [[AvroSink.write]] convenience wrapper. Each input partition
  * streams its rows into its own deflate-compressed container file
  * through the Hadoop FileSystem of the target URI — no driver
  * materialization, no shuffle, 100 TB fans out to one writer task per
  * partition.
  *
  * COMMIT PROTOCOL (r16 — the write half now matches the read half's
  * DSv2 citizenship): every task writes to an attempt-unique dot-temp
  * name (`.graft-<queryId>-<taskId>-p<pid>.avro.tmp`) that the scan's
  * `*.avro` listing can never pick up; the job's
  * [[AvroBatchWrite.commit]] renames the committed temps to their final
  * `part-<pid>.avro` names, writes the stats sidecars, and only then
  * stamps `_SUCCESS`. [[AvroBatchWrite.abort]] (and each losing task
  * attempt's own abort) deletes its temps. A failed or speculated job
  * therefore can NEVER leave a readable partial file — before commit
  * the directory holds only dot-temps, and overwrite jobs truncate the
  * old files inside commit, so the previous dataset stays intact until
  * the new one is fully written.
  *
  * Every committed file gets a `<file>.stats.json` SIDECAR with
  * per-column min/max/null-count plus the row count, written by the
  * committer from stats the task accumulated (a sidecar, not container
  * metadata, by format necessity: Avro metadata lives in the HEADER and
  * is fixed at create time, but min/max are only known after the last
  * row). Long/int column stats are stored AS JSON INTEGERS, never
  * doubles — a long ≥ 2^53 stored round-to-nearest could round a true
  * max DOWN and make [[AvroStats]] zone-map pruning wrongly skip the
  * whole file. r16 additions per column: a NaN count for doubles (what
  * licenses upper-bound pruning and max() pushdown under Spark's
  * NaN-greatest ordering) and a 2048-bit equality Bloom filter for
  * long/int/string ([[AvroBloom]]). [[AvroScan]] reads the sidecars at
  * planning time and SKIPS files whose [min, max] (or bloom) cannot
  * satisfy the pushed filters; [[AvroAggPush]] answers whole
  * aggregations from them. Readers ignore unknown sidecars; files
  * written by other tools (no sidecar) are never skipped.
  *
  * First write to an empty directory: the DSv2 write path resolves the
  * table schema via `inferSchema`, which needs either an existing
  * `.avro` file or the `graft.schema` option (the DataFrame schema as
  * JSON — [[AvroSink.write]] passes it automatically). Appends to an
  * existing dataset infer from the files, so the engine validates the
  * incoming frame against the on-disk schema by name.
  *
  * Types: the same five-primitive upload contract as [[Avro]]
  * (long/int/double/string/boolean as nullable unions).
  */
object AvroSink {

  /** Rows per intra-file stats block (r17): every `DefaultBlockRows`
    * rows the writer forces a container sync and records that block's
    * min/max/null zone map in the sidecar, so a selective scan skips
    * split RANGES inside a file, not just whole files. Override per
    * write with `.option("graft.blockrows", n)`.
    */
  val DefaultBlockRows: Int = 4096

  /** Per-column stats a writer task accumulates; min/max only once a
    * non-null value was seen. Integral columns track EXACT long bounds
    * (booleans carry counts only — a 2-value domain gains nothing from
    * range pruning).
    */
  private[sources] final class ColAcc(val dt: DataType,
      trackBloom: Boolean = true) {
    var nulls = 0L
    var nans = 0L // double columns: NaN is excluded from min/max but
                  // recorded, so the scan's upper-bound pruning and
                  // min/max aggregate pushdown stay sound (AvroStats doc)
    var minD = Double.NaN; var maxD = Double.NaN
    var minL = 0L; var maxL = 0L; var seenL = false
    // exact Σ over the file's non-null long/int values (r17): what
    // extends metadata aggregate pushdown to SUM (and avg = sum/count).
    // Tracked with overflow DETECTION — a sum past ±2^63 is omitted
    // from the sidecar rather than stored wrapped or as a lossy double
    // (the same exactness discipline as the JSON-long min/max)
    var sumL = 0L; var sumOk = true
    var minS: String = null; var maxS: String = null
    // equality Bloom filter for long/int/string columns (AvroBloom doc).
    // Block-level accumulators pass trackBloom=false: block stats are
    // serialized without blooms, so hashing an MD5 per value into a
    // 2048-bit filter that gets discarded every block would double the
    // write hot path's hashing for nothing (r17 ADVICE)
    val bloom: Array[Long] =
      if (!trackBloom) null
      else dt match {
        case LongType | IntegerType | StringType => new Array[Long](AvroBloom.Words)
        case _ => null
      }
    // HLL NDV registers (r18), tracked for the same columns as the
    // bloom and fed from the SAME per-value MD5 digest (AvroHll doc)
    val hll: Array[Byte] =
      if (bloom == null) null else new Array[Byte](AvroHll.M)
    private def sketch(s: String): Unit = {
      val md = AvroBloom.md5(s)
      AvroBloom.addDigest(bloom, md)
      AvroHll.add(hll, md)
    }
    def seenNumeric: Boolean = !minD.isNaN
    def addNull(): Unit = nulls += 1
    def addD(v: Double): Unit = {
      if (v.isNaN) nans += 1
      else {
        if (minD.isNaN || v < minD) minD = v
        if (maxD.isNaN || v > maxD) maxD = v
      }
    }
    def addL(v: Long): Unit = {
      if (!seenL) { minL = v; maxL = v; seenL = true }
      else { if (v < minL) minL = v; if (v > maxL) maxL = v }
      if (sumOk) try sumL = Math.addExact(sumL, v)
        catch { case _: ArithmeticException => sumOk = false }
      if (bloom != null) sketch(v.toString)
    }
    def addS(v: String): Unit = {
      // UTF-8 byte order, NOT String.compareTo (UTF-16 code units):
      // Spark's min/max over UTF8String is binary UTF-8, and a sidecar
      // min/max folded in a different collation makes pruning and
      // aggregate pushdown disagree with the real scan (r16 ADVICE)
      if (minS == null || AvroFilters.utf8Cmp(v, minS) < 0) minS = v
      if (maxS == null || AvroFilters.utf8Cmp(v, maxS) > 0) maxS = v
      if (bloom != null) sketch(v)
    }
  }

  private val SupportedTypes: Seq[DataType] =
    Seq(LongType, IntegerType, DoubleType, StringType, BooleanType)

  private[sources] def validateSchema(schema: StructType): Unit =
    schema.fields.foreach { f =>
      require(SupportedTypes.contains(f.dataType),
        s"graft-avro sink supports long/int/double/string/boolean, " +
          s"got ${f.dataType} for '${f.name}'")
    }

  /** Convenience wrapper over the DSv2 write path — keeps the r15 object
    * API (`AvroSink.write(df, dir, overwrite)`) while routing through the
    * commit/abort protocol. Passes the frame's schema as `graft.schema`
    * so a first write to an empty directory can resolve the table.
    */
  def write(df: DataFrame, dir: String, overwrite: Boolean = false): Unit = {
    validateSchema(df.schema)
    df.write.format("graft-avro")
      .option("graft.schema", df.schema.json)
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .save(dir)
  }

  /** CLUSTERED write (r18): sorts rows on `sortCols` before they stream
    * into containers, so the r17 block zone maps are tight and a later
    * selective scan skips most of every file. `rangePartition = true`
    * additionally range-repartitions globally — files then hold DISJOINT
    * key ranges (whole-FILE pruning gets sharp too), at the cost of one
    * exchange. The sort is declared through the write plan
    * ([[RequiresDistributionAndOrdering]]), not performed caller-side.
    */
  def writeClustered(df: DataFrame, dir: String, sortCols: Seq[String],
      rangePartition: Boolean = false, overwrite: Boolean = false): Unit = {
    require(sortCols.nonEmpty, "writeClustered needs sort columns")
    validateSchema(df.schema)
    df.write.format("graft-avro")
      .option("graft.schema", df.schema.json)
      .option("graft.sortby", sortCols.mkString(","))
      .option("graft.range", rangePartition.toString)
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .save(dir)
  }

  /** Hive-style PARTITIONED write (r16): containers land under
    * `dir/col=value/.../part-*.avro`, partition columns live in the
    * path (not the containers) and come back typed, LAST in the schema,
    * on read; the scan prunes whole directories from pushed filters on
    * them (see [[AvroPartitions]]). The WRITE PLAN declares a clustered
    * distribution on the partition columns (r18 — was a caller-side
    * repartition here), so each task holds few open writers and a
    * partition value's rows concentrate into few containers — and a SQL
    * `INSERT INTO` through the catalog (no options, no helper) gets the
    * same layout. The lever that turns a 100 TB `WHERE lang = 'en'`
    * into a directory listing. Partition columns:
    * long/int/string/boolean.
    */
  def writePartitioned(df: DataFrame, dir: String, partCols: Seq[String],
      overwrite: Boolean = false): Unit = {
    require(partCols.nonEmpty, "writePartitioned needs partition columns")
    validateSchema(df.schema)
    partCols.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"partition column '$c' not in schema"))
      require(AvroPartitions.AllowedTypes.contains(f.dataType.typeName),
        s"partition column '$c' must be long/int/string/boolean, " +
          s"got ${f.dataType}")
    }
    df.write.format("graft-avro")
      .option("graft.schema", df.schema.json)
      .option("graft.partitionby", partCols.mkString(","))
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .save(dir)
  }

  /** DELETE (r17 partition grain, r18 row grain): removes the rows
    * satisfying `condition` through the table's
    * [[org.apache.spark.sql.connector.catalog.SupportsDelete]]. A
    * predicate over partition columns unlinks whole files/directories
    * from path evaluation alone (zero container reads); a predicate
    * touching data columns rewrites copy-on-write exactly the files the
    * zone maps / blooms cannot rule out and leaves every other container
    * byte-identical (see [[AvroTable.deleteWhere]] / [[AvroRewrite]]).
    * Null semantics throughout: only definitely-TRUE rows delete.
    * Unsupported predicate shapes throw rather than guess.
    */
  /** Whether `dir` carries a committed partition spec — the public probe
    * for callers that must distinguish a partitioned table from a legacy
    * flat layout BEFORE planning partition-grain work against it (r21,
    * ADVICE: an externally persisted pre-partitioned-layout artifact must
    * fail loudly, not read partition columns as null).
    */
  def hasPartitionSpec(dir: String): Boolean =
    AvroPartitions.readSpec(dir, driverConf()).nonEmpty

  def deleteWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
      condition: org.apache.spark.sql.Column): Unit = {
    val filters = translateCondition(spark, dir, condition, "deleteWhere")
    val provider = new AvroDataSourceV2
    val props = new java.util.HashMap[String, String]()
    props.put("path", dir)
    val schema = provider.inferSchema(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(props))
    provider.getTable(schema, Array.empty, props)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]
      .deleteWhere(filters)
  }

  /** Analyze `condition` against the table and translate its conjuncts
    * to source filters — the shared prologue of [[deleteWhere]] and
    * [[updateWhere]]. Literal-TRUE conjuncts drop out, so an
    * unconditional predicate (`lit(true)`) yields an EMPTY array =
    * match-all; anything untranslatable throws, never guesses.
    */
  private def translateCondition(spark: org.apache.spark.sql.SparkSession,
      dir: String, condition: org.apache.spark.sql.Column,
      op: String): Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Expression, Literal}
    val analyzed = spark.read.format("graft-avro").load(dir)
      .where(condition).queryExecution.analyzed
    val cond = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"graft-avro $op: cannot resolve predicate $condition"))
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).filter {
      case Literal(true, org.apache.spark.sql.types.BooleanType) => false
      case _ => true
    }.map { e =>
      translateDeletePredicate(e).getOrElse(
        throw new UnsupportedOperationException(
          s"graft-avro $op: untranslatable predicate $e"))
    }.toArray
  }

  /** Row-level copy-on-write UPDATE (r18): sets `assignments` (column →
    * LITERAL value, or null) on exactly the rows where `condition` is
    * definitely TRUE, rewriting only the containers the partition paths
    * + zone maps / blooms cannot rule out — the GDPR-rectification /
    * redaction shape (`updateWhere(dir, pii_flag === true,
    * Map("email" -> null))`). Every untouched container stays
    * byte-identical; rewritten sidecars regenerate. Literal values only
    * by design: an expression-valued update is the CDC/merge tier's job
    * ([[graft.ops.Merge]]); a literal update is exactly reproducible in
    * the rewrite task and in the oracle. Partition columns cannot be
    * assigned (their values live in the PATH — moving rows between
    * directories is a delete+insert, not an update). Values are
    * validated and boxed against the table schema up front: long/int
    * columns take Long/Int (widened exactly), double takes Double,
    * string String, boolean Boolean, null always.
    */
  def updateWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, Any]): Unit = {
    require(assignments.nonEmpty, "updateWhere needs assignments")
    val filters = translateCondition(spark, dir, condition, "updateWhere")
    val conf = driverConf()
    val partSpec = AvroPartitions.readSpec(dir, conf)
    val partNames = partSpec.map(_._1).toSet
    // validation schema = the MERGED header union, so a schema-evolved
    // table validates against what the read exposes (listing-order-first
    // inference could wrongly refuse, or pass and fail late per-file)
    val props = new java.util.HashMap[String, String]()
    props.put("path", dir)
    props.put("graft.mergeschema", "true")
    val schema = new AvroDataSourceV2().inferSchema(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(props))
    val boxed: Map[String, Any] = assignments.map { case (n, v) =>
      require(!partNames.contains(n),
        s"graft-avro update: '$n' is a partition column — its value " +
          s"lives in the path; moving rows between partitions is a " +
          s"delete + insert, not an update")
      val f = schema.fields.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"graft-avro update: column '$n' not in schema"))
      val bv: Any = (f.dataType.typeName, v) match {
        case (_, null) => null
        case ("long", x: Long) => java.lang.Long.valueOf(x)
        case ("long", x: Int) => java.lang.Long.valueOf(x.toLong)
        case ("integer", x: Int) => java.lang.Integer.valueOf(x)
        case ("double", x: Double) => java.lang.Double.valueOf(x)
        case ("string", x: String) => x
        case ("boolean", x: Boolean) => java.lang.Boolean.valueOf(x)
        case (t, x) => throw new IllegalArgumentException(
          s"graft-avro update: column '$n' is $t, got " +
            s"${x.getClass.getSimpleName} value '$x'")
      }
      n -> bv
    }
    AvroRewrite.runUpdate(dir, conf, filters, partSpec, boxed)
  }

  /** Catalyst → data-source filter translation for the delete predicate
    * shapes this source can evaluate on partition paths (comparisons,
    * null checks, IN, OR). Spark's own DataSourceStrategy.translateFilter
    * is protected[sql], so the needed subset lives here; anything it
    * cannot express returns None and the delete throws rather than
    * guessing.
    */
  private def translateDeletePredicate(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.{sources => f}
    def jv(v: Any): Any = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other => other
    }
    // a literal operand may arrive wrapped (cast(10 as bigint)):
    // anything foldable evaluates to its constant at translation time
    object Lit {
      def unapply(x: Expression): Option[Any] =
        if (x.foldable) Some(jv(x.eval())) else None
    }
    // the COLUMN side may also arrive cast (col("band") === 1L analyzes
    // to Cast(band as bigint) = 1L) — unwrap it ONLY when both the
    // source and target types are numeric: there [[AvroFilters.cmpNum]]
    // compares the native typed partition value against the literal
    // value-exactly, so dropping the cast preserves semantics. Any
    // OTHER column-side cast (e.g. a string partition column cast to a
    // numeric to meet a numeric literal) must NOT unwrap: the evaluator
    // would compare string-vs-number, read UNKNOWN, and KEEP files whose
    // rows Spark's cast semantics would match — a silent UNDER-delete.
    // Returning None instead makes deleteWhere throw "untranslatable
    // predicate", the module's fail-loud contract (r17 ADVICE).
    object Attr {
      def unapply(x: Expression): Option[String] = x match {
        case a: AttributeReference => Some(a.name)
        case c: Cast => c.child match {
          case a: AttributeReference
              if a.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
                c.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
            Some(a.name)
          case _ => None
        }
        case _ => None
      }
    }
    e match {
      case EqualTo(Attr(a), Lit(v)) => Some(f.EqualTo(a, v))
      case EqualTo(Lit(v), Attr(a)) => Some(f.EqualTo(a, v))
      case GreaterThan(Attr(a), Lit(v)) =>
        Some(f.GreaterThan(a, v))
      case GreaterThan(Lit(v), Attr(a)) =>
        Some(f.LessThan(a, v))
      case GreaterThanOrEqual(Attr(a), Lit(v)) =>
        Some(f.GreaterThanOrEqual(a, v))
      case GreaterThanOrEqual(Lit(v), Attr(a)) =>
        Some(f.LessThanOrEqual(a, v))
      case LessThan(Attr(a), Lit(v)) =>
        Some(f.LessThan(a, v))
      case LessThan(Lit(v), Attr(a)) =>
        Some(f.GreaterThan(a, v))
      case LessThanOrEqual(Attr(a), Lit(v)) =>
        Some(f.LessThanOrEqual(a, v))
      case LessThanOrEqual(Lit(v), Attr(a)) =>
        Some(f.GreaterThanOrEqual(a, v))
      case IsNull(Attr(a)) => Some(f.IsNull(a))
      case IsNotNull(Attr(a)) => Some(f.IsNotNull(a))
      case In(Attr(a), vs) if vs.forall(_.foldable) =>
        Some(f.In(a, vs.map(l => jv(l.eval())).toArray))
      case Or(l, r) => for {
        lf <- translateDeletePredicate(l)
        rf <- translateDeletePredicate(r)
      } yield f.Or(lf, rf)
      case And(l, r) => for {
        lf <- translateDeletePredicate(l)
        rf <- translateDeletePredicate(r)
      } yield f.And(lf, rf)
      case _ => None
    }
  }

  private[sources] def typeOf(tn: String): DataType = tn match {
    case "long" => LongType
    case "integer" => IntegerType
    case "double" => DoubleType
    case "string" => StringType
    case "boolean" => BooleanType
    case other => throw new IllegalArgumentException(other)
  }

  private[sources] def avroSchemaOf(fields: Seq[(String, String)]): Schema = {
    val fs = fields.map { case (name, tn) =>
      val base = tn match {
        case "long" => Schema.create(Schema.Type.LONG)
        case "integer" => Schema.create(Schema.Type.INT)
        case "double" => Schema.create(Schema.Type.DOUBLE)
        case "string" => Schema.create(Schema.Type.STRING)
        case "boolean" => Schema.create(Schema.Type.BOOLEAN)
        case other => throw new IllegalArgumentException(other)
      }
      new Schema.Field(name,
        Schema.createUnion(Schema.create(Schema.Type.NULL), base),
        null, Schema.Field.NULL_DEFAULT_VALUE)
    }
    Schema.createRecord("graft_row", null, "graft", false, fs.toList.asJava)
  }

  /** One completed intra-file BLOCK's stats (r17): the sync position
    * that ends it plus its row count and column accumulators — what
    * block-level zone maps are made of.
    */
  private[sources] final case class BlockAcc(endSync: Long, rows: Long,
      accs: Seq[ColAcc])

  private def writeCols(om: com.fasterxml.jackson.databind.ObjectMapper,
      parent: com.fasterxml.jackson.databind.node.ObjectNode,
      fieldMeta: Seq[(String, String)], accs: Seq[ColAcc],
      withBloom: Boolean): Unit = {
    val cols = parent.putObject("cols")
    fieldMeta.zip(accs).foreach { case ((name, tn), a) =>
      val c = cols.putObject(name)
      c.put("nulls", a.nulls)
      tn match {
        case "string" =>
          if (a.minS != null) { c.put("min", a.minS); c.put("max", a.maxS) }
        case "boolean" => // counts only
        case "long" | "integer" =>
          if (a.seenL) {
            c.put("min", a.minL); c.put("max", a.maxL)
            // exact JSON long; OMITTED (never wrapped/lossy) on overflow
            if (withBloom && a.sumOk) c.put("sum", a.sumL)
          }
        case _ =>
          if (a.seenNumeric) { c.put("min", a.minD); c.put("max", a.maxD) }
          // ALWAYS recorded for doubles (even 0): "provably NaN-free"
          // is what unlocks upper-bound pruning and max() pushdown
          c.put("nans", a.nans)
      }
      if (withBloom && a.bloom != null && (a.seenL || a.minS != null)) {
        c.put("bloom", AvroBloom.toBase64(a.bloom))
        // NDV registers (r18): 64 bytes per column per file, max-merged
        // across files at planning into Catalyst column statistics
        c.put("hll", AvroHll.toBase64(a.hll))
      }
    }
  }

  /** Sidecar JSON bytes from a task's accumulated stats — what the
    * scan's zone-map pruning reads. Long/int bounds emitted as exact
    * JSON integers (see class doc). `blocks` (r17): per-block zone maps
    * — min/max/nulls (+ NaN counts) anchored at the block's ending
    * SYNC POSITION, so the scan can plan SPLIT RANGES that skip
    * non-matching regions INSIDE a container (the row-group-skipping
    * rung on top of whole-file pruning); emitted only when the file
    * has at least two blocks (a single block adds nothing over the
    * file-level stats). Blocks carry no blooms or sums — bounded
    * sidecar growth, and equality probes/aggregates stay file-level.
    */
  private[sources] def statsJson(fieldMeta: Seq[(String, String)],
      accs: Seq[ColAcc], rows: Long,
      blocks: Seq[BlockAcc] = Seq.empty): Array[Byte] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("rows", rows)
    // collation marker (r17): string min/max below are folded in UTF-8
    // byte order; a reader seeing a sidecar WITHOUT this marker must
    // not trust non-ASCII string bounds (pre-r17 sidecars folded them
    // with UTF-16 String.compareTo, which orders supplementary-plane
    // characters differently — reinterpreting those bounds under the
    // new comparator could wrongly prune files)
    root.put("coll", "utf8")
    writeCols(om, root, fieldMeta, accs, withBloom = true)
    if (blocks.size >= 2) {
      val arr = root.putArray("blocks")
      blocks.foreach { b =>
        val node = arr.addObject()
        node.put("e", b.endSync)
        node.put("rows", b.rows)
        writeCols(om, node, fieldMeta, b.accs, withBloom = false)
      }
    }
    om.writeValueAsBytes(root)
  }

  /** Delete every leftover dot-temp under `target` whose name starts
    * with `tempPrefix` (`.graft-<queryId>-…` for a batch job,
    * `.graft-<queryId>-e<epoch>-…` for one streaming epoch), at any
    * depth — shared by the batch and streaming committers.
    */
  private[sources] def tempSweep(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, tempPrefix: String): Unit = {
    if (!fs.exists(target)) return
    val it = fs.listFiles(target, true)
    val doomed = Seq.newBuilder[Path]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (n.startsWith(tempPrefix) && n.endsWith(".avro.tmp"))
        doomed += st.getPath
    }
    doomed.result().foreach(p => fs.delete(p, false))
  }

  private[sources] def driverConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())
}

/** WriteBuilder for the graft-avro table: truncate() (Spark's
  * SaveMode.Overwrite on a path table) defers the actual deletion to
  * job COMMIT so a failed overwrite leaves the previous dataset intact.
  */
private[sources] class AvroWriteBuilder(info: LogicalWriteInfo,
    pathStr: String, tablePartCols: Seq[String] = Seq.empty)
  extends WriteBuilder with SupportsTruncate {
  private var truncateOnCommit = false
  override def truncate(): WriteBuilder = { truncateOnCommit = true; this }
  override def build(): Write = new AvroBatchWrite(
    info.schema(), pathStr, truncateOnCommit, info.queryId(),
    Option(info.options.get("graft.partitionby"))
      .map(_.split(',').toSeq.filter(_.nonEmpty))
      .getOrElse(tablePartCols),
    Option(info.options.get("graft.blockrows")).map(_.toInt)
      .getOrElse(AvroSink.DefaultBlockRows),
    Option(info.options.get("graft.sortby"))
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty),
    Option(info.options.get("graft.range")).exists(_.toBoolean),
    Option(info.options.get("graft.writepartitions")).map(_.toInt)
      .getOrElse(0))
}

/** One task attempt's output: every (dot-temp path, stats sidecar bytes)
  * pair it produced — one pair in flat mode, one per partition VALUE the
  * task saw in partitioned mode.
  */
private[sources] case class AvroCommitMessage(partitionId: Int,
    parts: Seq[(String, Array[Byte])]) extends WriterCommitMessage

private[sources] class AvroBatchWrite(schema: StructType, pathStr: String,
    truncateOnCommit: Boolean, queryId: String,
    partCols: Seq[String] = Seq.empty,
    blockRows: Int = AvroSink.DefaultBlockRows,
    sortBy: Seq[String] = Seq.empty,
    rangeCluster: Boolean = false,
    writePartitions: Int = 0) extends Write with BatchWrite
  with RequiresDistributionAndOrdering {
  override def toBatch: BatchWrite = this

  // -- clustered write (r18): `graft.sortby=c1,c2` asks Spark — through
  // the DSv2 RequiresDistributionAndOrdering contract, so the sort is
  // part of the WRITE PLAN, not a caller convention — to sort each task's
  // rows on the named columns before they reach the writer; the r17
  // block zone maps then come out TIGHT (a selective probe skips most of
  // every container) instead of full-range. `graft.range=true` upgrades
  // to a global range repartition (Distributions.ordered): files then
  // cover DISJOINT key ranges — the strongest zone-map layout, at the
  // cost of one exchange. Default writes stay exactly as before
  // (unspecified distribution, empty ordering — Spark adds no node).
  // Multi-column clustering composes with Layout.zorderValue: sort by a
  // precomputed z-value column to interleave dimensions.
  private def sortOrders: Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    sortBy.map { c =>
      require(schema.fieldNames.contains(c),
        s"graft.sortby column '$c' not in schema " +
          s"${schema.fieldNames.mkString("[", ", ", "]")}")
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
        org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST)
    }.toArray
  override def requiredOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] = sortOrders
  override def requiredDistribution():
      org.apache.spark.sql.connector.distributions.Distribution =
    if (sortBy.nonEmpty && rangeCluster)
      org.apache.spark.sql.connector.distributions.Distributions
        .ordered(sortOrders)
    else if (partCols.nonEmpty)
      // partitioned writes declare a CLUSTERED distribution on the
      // partition columns (r18): Spark co-locates each partition
      // value's rows into one task, so every write path — including a
      // SQL INSERT INTO through the catalog, which passes no options —
      // produces few containers per value instead of tasks × values
      // (writePartitioned used to repartition caller-side; the write
      // plan now owns that requirement)
      org.apache.spark.sql.connector.distributions.Distributions
        .clustered(partCols.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions
            .identity(c): org.apache.spark.sql.connector.expressions
            .Expression).toArray)
    else org.apache.spark.sql.connector.distributions.Distributions
      .unspecified()
  // `graft.writepartitions`: pins the distribution's partition count —
  // the output FILE-count lever (one container per task), and what keeps
  // a range-clustered layout from collapsing to one file when AQE
  // coalesces a small shuffle. 0 (default) lets Spark/AQE choose.
  override def requiredNumPartitions(): Int = writePartitions
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncateOnCommit,
      "graft-avro: streaming writes are APPEND-only (no Complete/truncate)")
    new AvroStreamingWrite(schema, pathStr, queryId, partCols, blockRows)
  }
  override def description(): String = s"graft-avro sink ($pathStr)"

  private def partSpec: Seq[(String, String)] = partCols.map { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"partition column '$c' not in schema"))
    (c, f.dataType.typeName)
  }

  // option-combination validation, loud at PLANNING (r18 review):
  // graft.range without graft.sortby would silently produce no
  // clustering at all, and graft.writepartitions without graft.range
  // would die later inside Spark with an opaque unspecified-distribution
  // error — both are user mistakes this sink can name precisely
  require(!rangeCluster || sortBy.nonEmpty,
    "graft-avro: graft.range=true requires graft.sortby (range " +
      "clustering needs sort columns)")
  require(!rangeCluster || partCols.isEmpty,
    "graft-avro: graft.range=true is not supported for PARTITIONED " +
      "tables — a global range distribution would scatter every " +
      "partition value across all tasks (tasks × values containers); " +
      "cluster within partitions with graft.sortby alone")
  require(writePartitions == 0 || (rangeCluster && sortBy.nonEmpty),
    "graft-avro: graft.writepartitions requires graft.range=true + " +
      "graft.sortby (a partition count is only meaningful for the " +
      "range-clustered distribution)")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    AvroSink.validateSchema(schema)
    partSpec.foreach { case (c, t) =>
      require(AvroPartitions.AllowedTypes.contains(t),
        s"partition column '$c' must be long/int/string/boolean, got $t")
    }
    val target = new Path(pathStr)
    val fs = target.getFileSystem(AvroSink.driverConf())
    fs.mkdirs(target)
    // layout compatibility is checked HERE (driver, before any task
    // writes): a flat write into a partitioned table — or a partitioned
    // write whose spec differs from the committed one — would interleave
    // incompatible layouts (truncate replaces the layout, so only
    // appends are constrained)
    if (!truncateOnCommit) {
      val existing = AvroPartitions.readSpec(pathStr, AvroSink.driverConf())
      require(existing.isEmpty || existing == partSpec,
        s"graft-avro: append layout mismatch — table has partitions " +
          s"$existing, write has $partSpec")
      require(existing.nonEmpty || partCols.isEmpty ||
        AvroDsv2.listFiles(pathStr, AvroSink.driverConf()).isEmpty,
        "graft-avro: partitioned append into an existing FLAT table")
    }
    new AvroWriterFactory(
      schema.fields.toIndexedSeq.map(f => (f.name, f.dataType.typeName)),
      target.toString, queryId, partCols, blockRows)
  }

  /** Delete every leftover dot-temp of THIS query, at any depth. */
  private def tempSweep(fs: org.apache.hadoop.fs.FileSystem,
      target: Path): Unit =
    AvroSink.tempSweep(fs, target, s".graft-$queryId-")

  /** Job commit: (for overwrite) truncate the OLD data files at any
    * depth, write the partition spec (partitioned mode), rename every
    * committed temp to its final `part-<pid>[-<k>].avro` name IN PLACE
    * (temps already live in their partition-value directory), write the
    * stats sidecars, sweep zombie temps, and stamp `_SUCCESS` last.
    * Final names are deterministic per (task partition id, k-th value
    * dir); an append landing on an occupied name falls back to a
    * queryId-suffixed name rather than replacing foreign data.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val target = new Path(pathStr)
    val fs = target.getFileSystem(AvroSink.driverConf())
    // VERSIONED table (r19): the manifest log is the commit layer — an
    // overwrite REPLACES the file set in the next manifest and retains
    // the old files for time travel (expire() reclaims them), never
    // deletes them physically here
    val versioned = AvroVersions.isVersioned(fs, target)
    val parentV = if (versioned)
      AvroVersions.latestVersion(fs, target).getOrElse(0L) else 0L
    // sort-marker discipline (r19 review): decide BEFORE any file
    // becomes visible — a write that breaks the every-file-sorted
    // invariant clears the claim FIRST (a crash mid-rename must never
    // leave unsorted files under a live sorted claim); an affirming
    // clustered write re-commits the marker only AFTER all renames.
    // The emptiness check is by-name: it costs a listing and is only
    // evaluated for a clustered first write.
    def tableWasEmpty: Boolean =
      if (versioned) parentV == 0L ||
        AvroVersions.readManifest(fs, target, parentV).isEmpty
      else AvroDsv2.listFiles(pathStr, AvroSink.driverConf()).isEmpty
    val sortAffirmed = AvroSortMarker.affirms(pathStr,
      AvroSink.driverConf(), sortBy, truncateOnCommit, tableWasEmpty)
    if (!sortAffirmed)
      AvroSortMarker.clear(pathStr, AvroSink.driverConf())
    if (truncateOnCommit && !versioned && fs.exists(target)) {
      val it = fs.listFiles(target, true)
      val doomed = Seq.newBuilder[Path]
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (n.endsWith(".avro") || n.endsWith(".stats.json") ||
            n == "_SUCCESS" || n == AvroPartitions.SpecFile)
          doomed += st.getPath
      }
      graft.Par.map(doomed.result())(p => fs.delete(p, false))
    }
    if (partCols.nonEmpty)
      AvroPartitions.writeSpec(pathStr, AvroSink.driverConf(), partSpec)
    // per-file rename + sidecar writes run bounded-parallel (r20): the
    // destination names are fully determined per (partitionId, k) before
    // any FS call, no two files share a name within one commit, and the
    // manifest `added` list is assembled from the ordered results — so
    // commit contents and manifest order are byte-identical to the old
    // serial loop, minus the driver wall of one-rename-at-a-time
    val renames = messages
      .collect { case m: AvroCommitMessage if m.parts.nonEmpty => m }
      .sortBy(_.partitionId)
      .flatMap { m =>
        m.parts.zipWithIndex.map { case ((tempPath, statsJson), k) =>
          val base = f"part-${m.partitionId}%05d" +
            (if (m.parts.length > 1 || partCols.nonEmpty) f"-$k%03d" else "")
          (tempPath, statsJson, base)
        }
      }.toSeq
    val added = graft.Par.map(renames) { case (tempPath, statsJson, base) =>
      val temp = new Path(tempPath)
      val dir = temp.getParent
      val preferred = new Path(dir, s"$base.avro")
      val dst = if (fs.exists(preferred))
        new Path(dir, s"$base-${queryId.take(8)}.avro") else preferred
      require(fs.rename(temp, dst),
        s"graft-avro commit: rename $temp -> $dst failed")
      val sOut = fs.create(new Path(dir, s"${dst.getName}.stats.json"), true)
      try sOut.write(statsJson) finally sOut.close()
      if (versioned) Some((dst.toString, fs.getFileStatus(dst).getLen))
      else None
    }.flatten
    if (versioned) {
      val parentFiles =
        if (truncateOnCommit || parentV == 0L) Seq.empty
        else AvroVersions.readManifest(fs, target, parentV)
      AvroVersions.commit(fs, target, parentFiles ++ added,
        if (truncateOnCommit) "overwrite" else "append", parentV)
    }
    // sort-order metadata (r19): the affirming marker lands only after
    // every rename — a crash above leaves no claim (conservative)
    if (sortAffirmed)
      AvroSortMarker.write(pathStr, AvroSink.driverConf(), sortBy)
    tempSweep(fs, target)
    fs.create(new Path(target, "_SUCCESS"), true).close()
  }

  /** Job abort: drop every temp this query produced; never touches
    * previously committed data (truncation only happens inside commit).
    */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val target = new Path(pathStr)
    val fs = target.getFileSystem(AvroSink.driverConf())
    messages.collect { case m: AvroCommitMessage => m }
      .foreach(_.parts.foreach { case (p, _) => fs.delete(new Path(p), false) })
    tempSweep(fs, target)
  }
}

private[sources] class AvroWriterFactory(fieldMeta: Seq[(String, String)],
    dirStr: String, queryId: String,
    partCols: Seq[String] = Seq.empty,
    blockRows: Int = AvroSink.DefaultBlockRows) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new AvroDataWriter(fieldMeta, dirStr, queryId, partitionId, taskId,
      partCols, blockRows)
}

/** Exactly-once STREAMING append for graft-avro (r17) — the write half
  * of the read-tail symmetry: `df.writeStream.format("graft-avro")
  * .option("path", dir)` appends one epoch's rows per micro-batch
  * through the same dot-temp task protocol as the batch writer.
  *
  * Epoch idempotence (what "exactly once" means for a file sink whose
  * reader has no metadata log to filter by): final names are
  * DETERMINISTIC per (query, epoch, task partition, k) —
  * `part-<queryId>-e<epoch>-p<pid>-<k>.avro` — and commit(epoch) FIRST
  * deletes every previously committed file of that same (query, epoch)
  * prefix, then renames the new temps in. A replayed epoch (engine
  * restart between the sink commit and the checkpoint's commit-log
  * write) therefore REPLACES its earlier attempt instead of appending a
  * second copy — the replay carries the same source batch (replayable-
  * source contract), so the table converges to exactly-once content.
  * Spark's streaming queryId is stable across restarts (it lives in the
  * checkpoint metadata), so the cleanup prefix finds the prior run's
  * files; other queries appending to the same directory use different
  * prefixes and are never touched.
  */
/** Task-side factory: a NAMED serializable class (an anonymous one
  * would capture the driver-side StreamingWrite). The epoch id joins
  * the query id in the writer's temp-name prefix so two epochs' task
  * attempts can never collide.
  */
private[sources] class AvroStreamingWriterFactory(
    fieldMeta: Seq[(String, String)], dirStr: String, queryId: String,
    partCols: Seq[String],
    blockRows: Int = AvroSink.DefaultBlockRows)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new AvroDataWriter(fieldMeta, dirStr,
      AvroStreamingWriterFactory.epochQueryId(queryId, epochId),
      partitionId, taskId, partCols, blockRows)
}

private[sources] object AvroStreamingWriterFactory {
  def epochQueryId(queryId: String, epochId: Long): String =
    s"$queryId-e$epochId"
}

private[sources] class AvroStreamingWrite(schema: StructType,
    pathStr: String, queryId: String, partCols: Seq[String],
    blockRows: Int = AvroSink.DefaultBlockRows)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private def partSpec: Seq[(String, String)] = partCols.map { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"partition column '$c' not in schema"))
    (c, f.dataType.typeName)
  }

  private def epochPrefix(epochId: Long) = s"part-$queryId-e$epochId-"
  private def epochQueryId(epochId: Long) =
    AvroStreamingWriterFactory.epochQueryId(queryId, epochId)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    AvroSink.validateSchema(schema)
    partSpec.foreach { case (c, t) =>
      require(AvroPartitions.AllowedTypes.contains(t),
        s"partition column '$c' must be long/int/string/boolean, got $t")
    }
    val target = new Path(pathStr)
    val fs = target.getFileSystem(AvroSink.driverConf())
    fs.mkdirs(target)
    // versioned tables commit through the manifest log, which the
    // epoch-replay protocol does not speak — refuse loudly (r19)
    require(!AvroVersions.isVersioned(fs, target),
      s"graft-avro: streaming writes into a VERSIONED table are not " +
        s"supported ($pathStr has a ${AvroVersions.LogDirName}); write " +
        s"batch commits or disable versioning")
    // the same append layout-compatibility gate as the batch writer
    val existing = AvroPartitions.readSpec(pathStr, AvroSink.driverConf())
    require(existing.isEmpty || existing == partSpec,
      s"graft-avro: streaming append layout mismatch — table has " +
        s"partitions $existing, write has $partSpec")
    require(existing.nonEmpty || partCols.isEmpty ||
      AvroDsv2.listFiles(pathStr, AvroSink.driverConf()).isEmpty,
      "graft-avro: partitioned streaming append into an existing FLAT table")
    new AvroStreamingWriterFactory(
      schema.fields.toIndexedSeq.map(f => (f.name, f.dataType.typeName)),
      target.toString, queryId, partCols, blockRows)
  }

  /** Files previously committed by THIS (query, epoch) — the replay
    * cleanup set — plus their sidecars, at any depth.
    */
  private def committedOfEpoch(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, epochId: Long): Seq[Path] = {
    if (!fs.exists(target)) return Seq.empty
    val prefix = epochPrefix(epochId)
    val it = fs.listFiles(target, true)
    val out = Seq.newBuilder[Path]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (n.startsWith(prefix) &&
          (n.endsWith(".avro") || n.endsWith(".stats.json")))
        out += st.getPath
    }
    out.result()
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val target = new Path(pathStr)
    val fs = target.getFileSystem(AvroSink.driverConf())
    // streaming appends are unsorted: break the sort marker's claim
    // BEFORE this epoch's files become visible (r19 review)
    AvroSortMarker.clear(pathStr, AvroSink.driverConf())
    // replay cleanup FIRST: a re-committed epoch replaces its earlier
    // attempt wholesale (deterministic names alone would leave
    // stragglers if the replay produced fewer parts)
    committedOfEpoch(fs, target, epochId).foreach(p => fs.delete(p, false))
    if (partCols.nonEmpty)
      AvroPartitions.writeSpec(pathStr, AvroSink.driverConf(), partSpec)
    messages.collect { case m: AvroCommitMessage if m.parts.nonEmpty => m }
      .sortBy(_.partitionId)
      .foreach { m =>
        m.parts.zipWithIndex.foreach { case ((tempPath, statsJson), k) =>
          val temp = new Path(tempPath)
          val dir = temp.getParent
          val dst = new Path(dir,
            epochPrefix(epochId) + f"p${m.partitionId}%05d-$k%03d.avro")
          fs.delete(dst, false)
          require(fs.rename(temp, dst),
            s"graft-avro streaming commit: rename $temp -> $dst failed")
          val sOut = fs.create(new Path(dir, s"${dst.getName}.stats.json"), true)
          try sOut.write(statsJson) finally sOut.close()
        }
      }
    AvroSink.tempSweep(fs, target, s".graft-${epochQueryId(epochId)}-")
    fs.create(new Path(target, "_SUCCESS"), true).close()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val target = new Path(pathStr)
    val fs = target.getFileSystem(AvroSink.driverConf())
    messages.collect { case m: AvroCommitMessage => m }
      .foreach(_.parts.foreach { case (p, _) => fs.delete(new Path(p), false) })
    AvroSink.tempSweep(fs, target, s".graft-${epochQueryId(epochId)}-")
  }
}

/** One task attempt's writer: streams rows into attempt-unique dot-temp
  * containers (created lazily on the first row, so empty partitions
  * write nothing), accumulates sidecar stats, and hands the temp paths
  * + stats bytes to the driver at task commit. Losing speculative
  * attempts abort and delete their own temps — two attempts can never
  * interleave because they write DIFFERENT files.
  *
  * Partitioned mode (`partCols` non-empty): one container PER PARTITION
  * VALUE the task sees, under `dir/col=value/...`; partition columns
  * are stripped from the container schema (they live in the path).
  * The write plan's clustered distribution (r18 —
  * [[AvroBatchWrite.requiredDistribution]]) co-locates each partition
  * value's rows, so tasks hold few open writers.
  */
private[sources] class AvroDataWriter(fieldMeta: Seq[(String, String)],
    dirStr: String, queryId: String, partitionId: Int, taskId: Long,
    partCols: Seq[String] = Seq.empty,
    blockRows: Int = AvroSink.DefaultBlockRows)
  extends DataWriter[InternalRow] {

  // data columns = schema minus partition columns, original order kept
  private val dataMeta = fieldMeta.filterNot(f => partCols.contains(f._1))
  private val dataIdx = fieldMeta.zipWithIndex
    .collect { case (f, i) if !partCols.contains(f._1) => i }.toArray
  private val partIdx = partCols.map(c =>
    fieldMeta.indexWhere(_._1 == c)).toArray

  private final class Sink(val tempPath: Path) {
    val accs: Seq[AvroSink.ColAcc] =
      dataMeta.map(f => new AvroSink.ColAcc(AvroSink.typeOf(f._2)))
    var rows = 0L
    // intra-file block zone maps (r17): a second accumulator set per
    // current block, flushed at a FORCED sync every `blockRows` rows so
    // the scan can skip split ranges inside the container. trackBloom =
    // false: block stats serialize without blooms, so the per-value MD5
    // work would be pure waste on the write hot path (r17 ADVICE)
    var blockAccs: Seq[AvroSink.ColAcc] = dataMeta.map(f =>
      new AvroSink.ColAcc(AvroSink.typeOf(f._2), trackBloom = false))
    var blockRowCount = 0L
    val blocks = Seq.newBuilder[AvroSink.BlockAcc]
    def flushBlock(): Unit = if (blockRowCount > 0) {
      blocks += AvroSink.BlockAcc(writer.sync(), blockRowCount, blockAccs)
      blockAccs = dataMeta.map(f =>
        new AvroSink.ColAcc(AvroSink.typeOf(f._2), trackBloom = false))
      blockRowCount = 0L
    }
    val avroSch: Schema = AvroSink.avroSchemaOf(dataMeta)
    val writer: DataFileWriter[GenericRecord] = {
      val fs = tempPath.getFileSystem(AvroDsv2.hadoopConf)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](avroSch))
      w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
      w.create(avroSch, fs.create(tempPath, true))
      w
    }
  }

  private val sinks = scala.collection.mutable.LinkedHashMap.empty[String, Sink]

  private def partValueRaw(row: InternalRow, i: Int): String = {
    if (row.isNullAt(i)) return AvroPartitions.NullMarker
    fieldMeta(i)._2 match {
      case "long" => AvroPartitions.encode(java.lang.Long.valueOf(row.getLong(i)))
      case "integer" => AvroPartitions.encode(java.lang.Integer.valueOf(row.getInt(i)))
      case "boolean" => AvroPartitions.encode(java.lang.Boolean.valueOf(row.getBoolean(i)))
      case _ =>
        val s = row.getUTF8String(i).toString
        // URL-encoding leaves underscores intact, so a real value equal
        // to the null marker would round-trip as NULL — reject it loudly
        // instead of silently corrupting the column
        require(s != AvroPartitions.NullMarker,
          s"graft-avro: partition value collides with the reserved null " +
            s"marker '${AvroPartitions.NullMarker}' (column " +
            s"'${fieldMeta(i)._1}')")
        AvroPartitions.encode(s)
    }
  }

  private def sinkFor(row: InternalRow): Sink = {
    val subdir =
      if (partCols.isEmpty) ""
      else partCols.indices.map(j =>
        s"${partCols(j)}=${partValueRaw(row, partIdx(j))}").mkString("/", "/", "")
    sinks.getOrElseUpdate(subdir, new Sink(new Path(
      s"$dirStr$subdir/.graft-$queryId-$taskId-p$partitionId-${sinks.size}.avro.tmp")))
  }

  override def write(row: InternalRow): Unit = {
    val s = sinkFor(row)
    val rec = new GenericData.Record(s.avroSch)
    var j = 0
    while (j < dataMeta.length) {
      val i = dataIdx(j)
      val (name, tn) = fieldMeta(i)
      if (row.isNullAt(i)) {
        s.accs(j).addNull(); s.blockAccs(j).addNull(); rec.put(name, null)
      } else tn match {
        case "long" =>
          val v = row.getLong(i)
          s.accs(j).addL(v); s.blockAccs(j).addL(v)
          rec.put(name, java.lang.Long.valueOf(v))
        case "integer" =>
          val v = row.getInt(i)
          s.accs(j).addL(v.toLong); s.blockAccs(j).addL(v.toLong)
          rec.put(name, java.lang.Integer.valueOf(v))
        case "double" =>
          val v = row.getDouble(i)
          s.accs(j).addD(v); s.blockAccs(j).addD(v)
          rec.put(name, java.lang.Double.valueOf(v))
        case "string" =>
          val v = row.getUTF8String(i).toString
          s.accs(j).addS(v); s.blockAccs(j).addS(v)
          rec.put(name, v)
        case "boolean" =>
          rec.put(name, java.lang.Boolean.valueOf(row.getBoolean(i)))
        case other => throw new IllegalStateException(other)
      }
      j += 1
    }
    s.writer.append(rec)
    s.rows += 1
    s.blockRowCount += 1
    if (s.blockRowCount >= blockRows) s.flushBlock()
  }

  override def commit(): WriterCommitMessage = {
    val parts = sinks.values.map { s =>
      s.flushBlock() // the final partial block's boundary + stats
      s.writer.close()
      (s.tempPath.toString,
        AvroSink.statsJson(dataMeta, s.accs, s.rows, s.blocks.result()))
    }.toSeq
    sinks.clear()
    AvroCommitMessage(partitionId, parts)
  }

  override def abort(): Unit = {
    sinks.values.foreach { s =>
      try s.writer.close() catch { case _: Throwable => () }
      val fs = s.tempPath.getFileSystem(AvroDsv2.hadoopConf)
      fs.delete(s.tempPath, false)
    }
    sinks.clear()
  }

  override def close(): Unit = {
    sinks.values.foreach(s =>
      try s.writer.close() catch { case _: Throwable => () })
  }
}
