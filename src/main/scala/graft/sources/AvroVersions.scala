package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import scala.jdk.CollectionConverters._

/** Versioned MANIFEST LOG for graft-avro tables (r19) — the opt-in
  * commit layer that buys snapshot isolation, writer fencing, time
  * travel, and a changelog read in one structure.
  *
  * A table becomes versioned by [[enable]] (or CREATE TABLE ...
  * TBLPROPERTIES('versioned'='true') through [[AvroCatalog]]), which
  * snapshots the current physical listing as version 1 into
  * `<table>/_graft_log/v<20-digit>.json` — one JSON manifest per
  * commit: `{v, parent, op, files: [{p: <root-relative>, l: <len>}]}`.
  * From then on:
  *
  *  - READERS resolve the file set from the LATEST manifest instead of
  *    listing the directory (`graft.versionasof=N` — or SQL `VERSION AS
  *    OF n` through the catalog — resolves manifest N). Data files are
  *    IMMUTABLE once committed: every mutation lands under a fresh
  *    name, so a reader pinned to version v sees v exactly for as long
  *    as its files survive [[expire]] — no torn reads, by construction.
  *  - WRITERS commit optimistically: each mutation derives its file
  *    list from parent version P and commits with `expectedParent = P`;
  *    the commit CLAIMS version P+1 via an exclusive create
  *    (`v<n>.json.claim`), re-checks that P is still the latest, writes
  *    the manifest content (temp + rename, atomic), and releases the
  *    claim. Two concurrent writers therefore FAIL LOUDLY
  *    ([[ConcurrentWriteException]]) instead of interleaving — the
  *    fencing the physical single-writer contract could only document.
  *    A claim orphaned by a hard crash blocks writers (never readers)
  *    until it exceeds `staleClaimMs` (default 15 min), after which the
  *    next writer sweeps it.
  *  - Old versions' files are RETAINED for time travel until [[expire]]
  *    drops manifests beyond a retention count and deletes files no
  *    surviving manifest references.
  *  - [[changes]] (r19 #3) diffs two versions into a signed row feed:
  *    rows of files only in the newer version as inserts, rows of files
  *    only in the older as deletes — a copy-on-write rewrite of a
  *    container emits its rows on both sides, which CANCEL in any
  *    additive downstream composition (the `Merge.deltaJoin` /
  *    `applySignedDeltas` IVM contract), so the feed is exact without a
  *    row-level diff.
  *
  * What versioning deliberately does NOT support (loud refusals, not
  * silent wrong answers): streaming reads and streaming writes of a
  * versioned table — both protocols are keyed to the physical listing,
  * and a COW rewrite under a running tail would re-deliver rewritten
  * containers. Non-versioned tables are COMPLETELY unaffected: no log
  * directory, no behavior change anywhere.
  *
  * 100 TB shape: a manifest holds one ~60-byte entry per file — a
  * million-file table is a ~60 MB driver-side JSON per commit, the same
  * scale class as its file LISTING (which it replaces); commits are
  * O(files) driver work with zero data movement, and reads save the
  * recursive directory walk.
  */
object AvroVersions {

  val LogDirName = "_graft_log"

  /** Two writers raced a commit: the losing one must re-derive its
    * mutation from the new latest version and retry (or give up) —
    * never interleave.
    */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  private def logDir(root: Path) = new Path(root, LogDirName)
  private def manifestName(v: Long) = f"v$v%020d.json"
  private def manifestPath(root: Path, v: Long) =
    new Path(logDir(root), manifestName(v))
  private def claimPath(root: Path, v: Long) =
    new Path(logDir(root), s"${manifestName(v)}.claim")

  def isVersioned(fs: FileSystem, root: Path): Boolean =
    fs.exists(logDir(root))

  def isVersioned(pathStr: String, conf: Configuration): Boolean = {
    val p = new Path(pathStr)
    isVersioned(p.getFileSystem(conf), p)
  }

  private def listLog(fs: FileSystem, root: Path)
      : (Seq[Long], Seq[(Long, org.apache.hadoop.fs.FileStatus)]) = {
    val dir = logDir(root)
    if (!fs.exists(dir)) return (Seq.empty, Seq.empty)
    val sts = fs.listStatus(dir)
    val committed = sts.collect {
      case st if st.getPath.getName.matches("v\\d{20}\\.json") =>
        st.getPath.getName.stripPrefix("v").stripSuffix(".json").toLong
    }.toSeq.sorted
    val claims = sts.collect {
      case st if st.getPath.getName.matches("v\\d{20}\\.json\\.claim") =>
        (st.getPath.getName.stripPrefix("v")
          .stripSuffix(".json.claim").toLong, st)
    }.toSeq.sortBy(_._1)
    (committed, claims)
  }

  /** Latest committed version, or None when the table is not versioned
    * (or the log is empty — a half-initialized enable()).
    */
  def latestVersion(fs: FileSystem, root: Path): Option[Long] =
    listLog(fs, root)._1.lastOption

  private[sources] def relativize(fs: FileSystem, root: Path,
      p: String): String = {
    val rootQ = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    val pq = fs.makeQualified(new Path(p)).toString
    require(pq.startsWith(rootQ),
      s"graft-avro versions: $pq not under table root $rootQ")
    pq.stripPrefix(rootQ)
  }

  /** The (absolute qualified path, length) file set of version `v`.
    * Fails loudly on a missing or unreadable manifest — resolving a
    * versioned table from anything but its log would silently break
    * snapshot semantics.
    */
  def readManifest(fs: FileSystem, root: Path,
      v: Long): IndexedSeq[(String, Long)] = {
    val mp = manifestPath(root, v)
    if (!fs.exists(mp))
      throw new IllegalArgumentException(
        s"graft-avro: version $v does not exist under ${logDir(root)} " +
          s"(committed: ${listLog(fs, root)._1.mkString(", ")})")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = try {
      val in = fs.open(mp)
      try om.readTree(in: java.io.InputStream) finally in.close()
    } catch {
      case e: Throwable => throw new IllegalStateException(
        s"graft-avro: unreadable version manifest $mp", e)
    }
    val rootQ = fs.makeQualified(root)
    Option(node.get("files")).map(_.asScala.toIndexedSeq).getOrElse(
      throw new IllegalStateException(
        s"graft-avro: manifest $mp carries no files array"))
      .map { f =>
        (fs.makeQualified(new Path(rootQ, f.get("p").asText)).toString,
          f.get("l").asLong)
      }
      .sortBy(_._1)
  }

  /** Resolve a table's current (or `asOf`-pinned) file set through the
    * log; None when the table is not versioned — the caller falls back
    * to the physical listing. `asOf` on a NON-versioned table throws
    * (silently reading latest would not be time travel).
    */
  def resolveFiles(pathStr: String, conf: Configuration,
      asOf: Option[Long] = None): Option[IndexedSeq[(String, Long)]] = {
    val root = new Path(pathStr)
    val fs = root.getFileSystem(conf)
    if (!isVersioned(fs, root)) {
      require(asOf.isEmpty,
        s"graft-avro: VERSION AS OF requested but $pathStr has no " +
          s"version log (${LogDirName} missing) — enable versioning " +
          s"with AvroVersions.enable first")
      return None
    }
    val v = asOf.getOrElse(latestVersion(fs, root).getOrElse(
      throw new IllegalStateException(
        s"graft-avro: $pathStr has a version log but no committed " +
          s"manifest — a half-initialized enable(); re-run enable or " +
          s"remove ${logDir(root)}")))
    Some(readManifest(fs, root, v))
  }

  /** Commit `files` as the next version. Optimistic concurrency: the
    * caller derived `files` from `expectedParent` (0 for the first
    * commit); if another writer committed meanwhile, or holds a fresh
    * claim, this throws [[ConcurrentWriteException]] and changes
    * nothing. Returns the committed version number.
    */
  def commit(fs: FileSystem, root: Path, files: Seq[(String, Long)],
      op: String, expectedParent: Long,
      staleClaimMs: Long = 15L * 60 * 1000): Long = {
    fs.mkdirs(logDir(root))
    val (committed, claims) = listLog(fs, root)
    val latest = committed.lastOption.getOrElse(0L)
    if (latest != expectedParent)
      throw new ConcurrentWriteException(
        s"graft-avro: commit derived from version $expectedParent but " +
          s"the table is at $latest — a concurrent writer won; re-derive " +
          s"the mutation from the new snapshot")
    // claims above the latest committed version: a live writer (fresh)
    // or a crashed one (stale — sweep and proceed)
    claims.filter(_._1 > latest).foreach { case (cv, st) =>
      val age = System.currentTimeMillis() - st.getModificationTime
      if (age < staleClaimMs)
        throw new ConcurrentWriteException(
          s"graft-avro: version $cv is being committed by another " +
            s"writer (claim age ${age}ms < ${staleClaimMs}ms); retry " +
            s"after it finishes, or remove the stale claim " +
            s"${st.getPath} if the writer is known dead")
      fs.delete(st.getPath, false)
    }
    val next = latest + 1
    val claim = claimPath(root, next)
    try fs.create(claim, false).close()
    catch {
      case _: java.io.IOException =>
        throw new ConcurrentWriteException(
          s"graft-avro: lost the claim race for version $next ($claim " +
            s"already exists) — a concurrent writer is committing")
    }
    try {
      // re-check under the claim: a writer that committed between our
      // listing and our claim would otherwise be silently overwritten
      val nowLatest = listLog(fs, root)._1.lastOption.getOrElse(0L)
      if (nowLatest != expectedParent)
        throw new ConcurrentWriteException(
          s"graft-avro: version $nowLatest committed while claiming " +
            s"$next — re-derive the mutation")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.createObjectNode()
      node.put("v", next)
      node.put("parent", expectedParent)
      node.put("op", op)
      node.put("ts", System.currentTimeMillis())
      val arr = node.putArray("files")
      files.sortBy(_._1).foreach { case (p, l) =>
        val f = arr.addObject()
        f.put("p", relativize(fs, root, p))
        f.put("l", l)
        ()
      }
      val tmp = new Path(logDir(root), s".${manifestName(next)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(om.writeValueAsBytes(node)) finally out.close()
      require(fs.rename(tmp, manifestPath(root, next)),
        s"graft-avro: manifest rename $tmp failed")
      next
    } finally fs.delete(claim, false)
  }

  /** The versioned route of graft-avro's one file-set swap
    * ([[AvroRlo.commitReplace]], its only caller): per add, stats
    * sidecar FIRST (inert without its container), then rename the
    * dot-temp to its fresh visible name
    * — invisible to versioned readers until the fenced manifest commit
    * swaps `removes` out and the adds in. Removes stay on disk for time
    * travel; a crash before the log commit leaves only unreferenced
    * fresh-name files ([[expire]]'s orphan pass reclaims).
    */
  private[sources] def commitSwap(fs: FileSystem, root: Path,
      adds: Seq[(String, String, Array[Byte])], // (temp, finalAbs, stats)
      removes: Seq[String], op: String): Long = {
    val parentV = latestVersion(fs, root).getOrElse(0L)
    val parent = if (parentV == 0L) IndexedSeq.empty[(String, Long)]
      else readManifest(fs, root, parentV)
    val gone = removes
      .map(p => fs.makeQualified(new Path(p)).toString).toSet
    val added = adds.map { case (temp, finalAbs, stats) =>
      val dst = new Path(finalAbs)
      val sOut = fs.create(new Path(s"$finalAbs.stats.json"), true)
      try sOut.write(stats) finally sOut.close()
      require(fs.rename(new Path(temp), dst),
        s"graft-avro: rename $temp -> $dst failed")
      (dst.toString, fs.getFileStatus(dst).getLen)
    }
    commit(fs, root,
      parent.filterNot(f => gone.contains(f._1)) ++ added, op, parentV)
  }

  /** Turn an existing (or empty) table into a versioned one: snapshot
    * the current physical listing as version 1. Refuses if already
    * versioned.
    */
  def enable(pathStr: String, conf: Configuration = AvroSink.driverConf())
      : Long = {
    val root = new Path(pathStr)
    val fs = root.getFileSystem(conf)
    require(!isVersioned(fs, root),
      s"graft-avro: $pathStr is already versioned")
    fs.mkdirs(root)
    commit(fs, root, AvroDsv2.listFiles(pathStr, conf), "enable", 0L)
  }

  /** Drop all but the last `keepVersions` manifests and delete every
    * data file (+ sidecar) that only retired manifests reference. Also
    * sweeps: stale claims, and ORPHAN files — `*.avro` under the root
    * referenced by NO manifest at all (a mutation that renamed its
    * fresh-name outputs in but crashed before the log commit), age-
    * gated by `orphanAgeMs` so an in-flight commit's files are never
    * touched. Returns (versions dropped, files deleted).
    */
  def expire(pathStr: String, keepVersions: Int,
      conf: Configuration = AvroSink.driverConf(),
      orphanAgeMs: Long = 15L * 60 * 1000): (Int, Int) = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    val root = new Path(pathStr)
    val fs = root.getFileSystem(conf)
    val (committed, claims) = listLog(fs, root)
    require(committed.nonEmpty, s"graft-avro: $pathStr is not versioned")
    val keep = committed.takeRight(keepVersions)
    val drop = committed.dropRight(keepVersions)
    val referenced: Set[String] =
      keep.flatMap(v => readManifest(fs, root, v).map(_._1)).toSet
    val retired: Seq[String] = drop
      .flatMap(v => readManifest(fs, root, v).map(_._1))
      .distinct
      .filterNot(referenced.contains)
    val now = System.currentTimeMillis()
    val everReferenced: Set[String] = referenced ++ retired
    val orphans: Seq[String] = AvroDsv2.listFiles(pathStr, conf)
      .map(_._1)
      .filterNot(everReferenced.contains)
      .filter { p =>
        val st = fs.getFileStatus(new Path(p))
        now - st.getModificationTime >= orphanAgeMs
      }
    val doomed = retired ++ orphans
    AvroRewrite.unlinkWithDirs(fs, root, doomed)
    drop.foreach(v => fs.delete(manifestPath(root, v), false))
    val latest = committed.last
    claims.filter(_._1 <= latest).foreach(c => fs.delete(c._2.getPath, false))
    (drop.size, doomed.size)
  }

  /** Version-log introspection (the `DESCRIBE HISTORY` analogue): one
    * row per committed version — (version, parent, op, ts, n_files,
    * total_bytes), newest first. Driver-side metadata only (one JSON
    * parse per manifest), returned as a DataFrame for SQL composition.
    */
  def history(spark: org.apache.spark.sql.SparkSession,
      pathStr: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val root = new Path(pathStr)
    val fs = root.getFileSystem(AvroSink.driverConf())
    val (committed, _) = listLog(fs, root)
    require(committed.nonEmpty, s"graft-avro: $pathStr is not versioned")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    committed.sorted.reverse.map { v =>
      val in = fs.open(manifestPath(root, v))
      val node = try om.readTree(in: java.io.InputStream) finally in.close()
      val files = Option(node.get("files")).map(_.asScala.toSeq)
        .getOrElse(Seq.empty)
      (v,
        Option(node.get("parent")).map(_.asLong).getOrElse(0L),
        Option(node.get("op")).map(_.asText).getOrElse(""),
        Option(node.get("ts")).map(_.asLong).getOrElse(0L),
        files.size.toLong,
        files.map(f => f.get("l").asLong).sum)
    }.toDF("version", "parent", "op", "ts", "n_files", "total_bytes")
  }

  /** Signed row-level change feed between two versions (class doc):
    * every row of a file present only in `toV` as an insert, every row
    * of a file present only in `fromV` as a delete — with `_change_type`
    * ('insert' | 'delete') and `_commit_version` columns appended.
    * Exact as a signed feed: a COW-rewritten container contributes both
    * sides and the untouched rows cancel additively.
    */
  def changes(spark: org.apache.spark.sql.SparkSession, pathStr: String,
      fromV: Long, toV: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromV < toV, s"graft-avro changes: need fromV < toV, " +
      s"got $fromV >= $toV")
    val conf = AvroSink.driverConf()
    val root = new Path(pathStr)
    val fs = root.getFileSystem(conf)
    val from = readManifest(fs, root, fromV).map(_._1).toSet
    val to = readManifest(fs, root, toV).map(_._1).toSet
    val inserted = (to -- from).toSeq.sorted
    val deleted = (from -- to).toSeq.sorted
    def readFiles(files: Seq[String], tag: String, v: Long)
        : org.apache.spark.sql.DataFrame = {
      val base = spark.read.format("graft-avro")
        .option("graft.files", files.map(relativize(fs, root, _))
          .mkString(","))
        .load(pathStr)
      base.withColumn("_change_type", lit(tag))
        .withColumn("_commit_version", lit(v))
    }
    // schema even when one side is empty: an empty file list still
    // resolves the table schema from the log's files
    (inserted, deleted) match {
      case (i, d) if i.nonEmpty && d.nonEmpty =>
        readFiles(i, "insert", toV).unionByName(readFiles(d, "delete", toV))
      case (i, _) if i.nonEmpty => readFiles(i, "insert", toV)
      case (_, d) if d.nonEmpty => readFiles(d, "delete", toV)
      case _ =>
        readFiles(readManifest(fs, root, toV).map(_._1), "insert", toV)
          .limit(0)
    }
  }
}
