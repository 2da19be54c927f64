package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-format ingestion (SURVEY §2.1, S1–S6).
  *
  * Reference: `Data_integration and harmonization.py:165-187` — CSV / JSON /
  * Parquet / Excel upload with pandas type inference, empty-input
  * rejection, and a 5-row preview. Excel (S2) is served by the JDK-only
  * [[Xlsx]] (zip+XML) and [[Xls]] (OLE2+BIFF8) readers, dispatched on the
  * file magic.
  *
  * Scale notes: `inferSchema` for CSV costs an extra pass — at 100 TB pass
  * an explicit schema (the `schema` overloads) so the scan is single-pass
  * and pushdown-friendly. JSON reads are line-delimited by default
  * (splittable); `multiLine=true` (pandas array-of-records parity) makes
  * each file a single unit of parallelism, so keep multiLine files small.
  */
object Sources {

  /** S1 — CSV with header + type inference (pandas `read_csv` parity). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S3 — JSON-lines (pandas `read_json(lines=True)`); set `multiLine` for a
    * whole-file array of records (pandas default orientation).
    */
  def readJson(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame =
    spark.read.option("multiLine", multiLine.toString).json(path)

  /** S4 — Parquet (self-describing schema). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC read — Spark's second built-in columnar format (same pushdown /
    * column-pruning story as parquet; ORC's bloom filters and stripe
    * statistics serve predicate skipping at scale). Round-trips through
    * [[writeOrc]].
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** XML read via Spark 4's built-in xml data source (`rowTag` selects
    * the repeated record element). Schema inference samples the files;
    * pass an explicit schema through `spark.read.schema(...).format
    * ("xml")` for production feeds — inference costs a full extra pass.
    * Round-trips through [[writeXml]].
    */
  def readXml(spark: SparkSession, path: String,
      rowTag: String = "row"): DataFrame =
    spark.read.format("xml").option("rowTag", rowTag).load(path)

  def writeXml(df: DataFrame, path: String, rowTag: String = "row"): Unit =
    df.write.mode("overwrite").format("xml").option("rowTag", rowTag)
      .save(path)

  /** Robust CSV ingestion: PERMISSIVE mode with the corrupt-record
    * column, so malformed lines (wrong arity, unparseable fields) land
    * as (nulls..., raw_line) rows instead of failing the job or being
    * silently dropped — the quarantine pattern for dirty feeds. The
    * caller's schema must NOT include the corrupt column; it is appended
    * here.
    */
  def readCsvPermissive(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      corruptCol: String = "corrupt_raw"): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .schema(schema.add(corruptCol, org.apache.spark.sql.types.StringType))
      .csv(path)

  /** Schema-evolution read: merge the footers of every parquet file under
    * `path` into one union schema (columns missing in older files come
    * back null) — the "new batches added a column" lifecycle without
    * rewriting history. Off by default in Spark because footer-merging
    * costs a pass over file metadata at planning time; turn it on per
    * read like this, or set a table-level schema once the layout
    * stabilizes.
    */
  def readParquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** S2 — minimal JDK-only Excel readers (see [[Xlsx]] and [[Xls]]):
    * dispatches on the FILE MAGIC, not the extension — OLE2/CFB (legacy
    * binary .xls, BIFF8) routes to [[Xls.read]], zip/PK (.xlsx) to
    * [[Xlsx.read]] — so a misnamed workbook still reads correctly, the
    * way `pd.read_excel` picks its engine. Header row, pandas-style
    * numeric inference. Driver-side parse — the upload-ingestion contract
    * for small workbooks, mirroring `pd.read_excel`'s eager single-file
    * read; convert to parquet before heavy processing.
    */
  def readExcel(spark: SparkSession, path: String): DataFrame =
    if (isOle2(path)) Xls.read(spark, path) else Xlsx.read(spark, path)

  /** `pd.read_excel(path, sheet_name=<index>)`. */
  def readExcel(spark: SparkSession, path: String, sheet: Int): DataFrame =
    if (isOle2(path)) Xls.read(spark, path, Left(sheet))
    else Xlsx.read(spark, path, Left(sheet))

  /** `pd.read_excel(path, sheet_name=<name>)`. */
  def readExcel(spark: SparkSession, path: String, sheet: String): DataFrame =
    if (isOle2(path)) Xls.read(spark, path, Right(sheet))
    else Xlsx.read(spark, path, Right(sheet))

  /** `pd.ExcelFile(path).sheet_names`, either workbook format. */
  def excelSheetNames(path: String): Seq[String] =
    if (isOle2(path)) Xls.sheetNames(path) else Xlsx.sheetNames(path)

  private def isOle2(path: String): Boolean = {
    val f = new java.io.File(path)
    // sniffing runs before either reader: give missing-path errors the
    // excel-read context instead of a bare stream-open failure
    if (!f.isFile) throw new java.io.FileNotFoundException(
      s"cannot read Excel workbook $path: no such file")
    val in = new java.io.FileInputStream(f)
    val head = try in.readNBytes(4) finally in.close()
    head.length == 4 && (head(0) & 0xFF) == 0xD0 && (head(1) & 0xFF) == 0xCF &&
      (head(2) & 0xFF) == 0x11 && (head(3) & 0xFF) == 0xE0
  }

  /** Multi-format dispatch by file extension — the reference's upload loop
    * (`DIH.py:172-179`: csv/xlsx/json/parquet).
    */
  def readAny(spark: SparkSession, path: String): DataFrame = {
    val lower = path.toLowerCase
    if (lower.endsWith(".csv")) readCsv(spark, path)
    else if (lower.endsWith(".json")) readJson(spark, path)
    else if (lower.endsWith(".parquet")) readParquet(spark, path)
    else if (lower.endsWith(".orc")) readOrc(spark, path)
    else if (lower.endsWith(".xlsx") || lower.endsWith(".xls")) readExcel(spark, path)
    else throw new IllegalArgumentException(s"Unsupported file format: $path")
  }

  /** Fixed-width text reader — the mainframe/legacy-feed format the
    * built-in sources skip. One `spark.read.text` scan with codegen'd
    * substring projections per column spec (name, width), values
    * trimmed; a `null` marker string (post-trim) maps to SQL null. The
    * whole parse is scan-local — splittable text input, no shuffle, no
    * UDF — so it rides the same distributed scan as CSV at any size.
    * 1-based offsets accumulate left to right; lines shorter than the
    * total width yield empty→null tail columns (substring past end is
    * empty, the lenient legacy contract).
    */
  def readFixedWidth(spark: SparkSession, path: String,
      widths: Seq[(String, Int)], nullValue: String = ""): DataFrame = {
    require(widths.nonEmpty, "widths must be non-empty")
    require(widths.forall(_._2 > 0), s"widths must be positive: $widths")
    val offsets = widths.scanLeft(1) { case (off, (_, w)) => off + w }
    val cols = widths.zip(offsets).map { case ((name, w), off) =>
      val v = org.apache.spark.sql.functions.trim(
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.col("value"), off, w))
      org.apache.spark.sql.functions.when(v === nullValue,
        org.apache.spark.sql.functions.lit(null: String))
        .otherwise(v).as(name)
    }
    spark.read.text(path).select(cols: _*)
  }

  /** S5 — empty-input check (`data.empty`, DIH.py:181). `isEmpty` runs a
    * LocalLimit(1) job — O(first non-empty partition), not a full count.
    */
  def isEmpty(df: DataFrame): Boolean = df.isEmpty

  /** S6 — preview head (`data.head()`, DIH.py:185). */
  def head(df: DataFrame, n: Int = 5): DataFrame = df.limit(n)

  /** Hive-style partitioned parquet: queries filtering on `partitionCols`
    * prune whole directories at planning time (PartitionFilters in the
    * scan) — the first lever for 100 TB layouts (partition by date/source,
    * never by high-cardinality keys).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed table: pre-shuffles rows into `numBuckets` files by hash of
    * `bucketCol` so equi-joins/aggregations on that key need NO exchange at
    * read time (both sides report HashPartitioning). Requires a table name
    * (bucket metadata lives in the session catalog).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)
}
