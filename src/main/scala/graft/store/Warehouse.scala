package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, crc32, lit, pmod}
import org.apache.spark.sql.types.StructType

/** Versioned parquet warehouse with copy-on-write mutation — the narrow
  * storage interface SURVEY §7.3 calls for (so a Delta-style backend could
  * replace it without touching callers).
  *
  * Layout: `root/<table>/v<N>/part-*.parquet` plus a `_latest` pointer
  * file holding N. Reads resolve the pointer, then open `v<N>` on the
  * driver ([[org.apache.spark.sql.graft.LocalParquet.openSnapshot]]: a
  * java.nio walk plus one footer read, no Spark job) into the same
  * relation `spark.read.parquet` would build; nothing is cached between
  * reads, so each one sees exactly the files on disk at that moment.
  * Appends add part-files to the current version (parquet append);
  * mutations (update/delete) write a full new version directory and then
  * atomically swing the pointer — readers never observe a half-written
  * table, which is the same snapshot-isolation trick every table format
  * (Delta/Iceberg/Hudi) uses.
  * The reference delegated all this to MongoDB
  * (`adapters/MongodbAdapter.scala:36-65`); an immutable-file engine has
  * to do it with snapshots.
  *
  * Concurrency: single-writer per table (the reference serialized writes
  * through one Mongo connection too — SURVEY §7.4); `synchronized` guards
  * the pointer swap for in-process callers.
  *
  * Snapshot retention: each mutation keeps the `retain` most-recent PRIOR
  * versions on disk (default 1) and vacuums older ones — the contract a
  * long-lived analytical reader relies on: a lazy DataFrame opened up to
  * `retain` mutations ago stays evaluable, exactly the time-travel
  * retention window table formats expose (`delta.deletedFileRetention`).
  * Size the knob to the longest reader you run against a mutating table.
  */
final class Warehouse(val spark: SparkSession, val root: String,
    val retain: Int = 1) {
  require(retain >= 1, s"retain must keep at least one prior version: $retain")

  private def tableDir(name: String): Path = Paths.get(root, name)
  private def pointerFile(name: String): Path = tableDir(name).resolve("_latest")
  private def versionDir(name: String, v: Int): Path = tableDir(name).resolve(s"v$v")

  def currentVersion(name: String): Int = {
    val p = pointerFile(name)
    if (Files.exists(p))
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt
    else -1
  }

  private def setVersion(name: String, v: Int): Unit = {
    val tmp = tableDir(name).resolve(s"_latest.tmp$v")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointerFile(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def exists(name: String): Boolean = currentVersion(name) >= 0

  /** Read the table's current snapshot. The internal `runBucket`
    * partition column (mutation-scoping detail) is never exposed. */
  def read(name: String): DataFrame = {
    val v = currentVersion(name)
    require(v >= 0, s"table $name does not exist in $root")
    snapshot(name, v).drop(Warehouse.BucketCol)
  }

  /** A version directory as a DataFrame, resolved on the driver;
    * `spark.read.parquet` only for a directory with no data file, so
    * that case fails with Spark's own error, as it always did. */
  private def snapshot(name: String, version: Int): DataFrame = {
    val dir = versionDir(name, version)
    org.apache.spark.sql.graft.LocalParquet.openSnapshot(spark, dir)
      .getOrElse(spark.read.parquet(dir.toString))
  }

  /** Partition-pruned read of a run-bucketed table: the bucket filter
    * reaches the scan as a partition filter, so only the named runs'
    * hash-bucket directories are scanned — the right entry point for
    * point lookups (file download, per-run unit reads) where [[read]]
    * would scan every bucket. Listing is the driver-side walk every read
    * makes. Falls back to [[read]] for unbucketed tables. */
  def readForRuns(name: String, runIds: Seq[String]): DataFrame =
    if (!Warehouse.isRunBucketed(name)) read(name)
    else {
      val buckets = runIds.map(Warehouse.bucketOf).distinct
      val v = currentVersion(name)
      require(v >= 0, s"table $name does not exist in $root")
      snapshot(name, v)
        .filter(col(Warehouse.BucketCol).isin(buckets: _*))
        .drop(Warehouse.BucketCol)
    }

  /** Read, or an empty frame of `schema` when the table doesn't exist yet
    * (first upload of a pipeline). */
  def readOr(name: String, schema: StructType): DataFrame =
    if (exists(name)) read(name)
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  /** Time travel within the retention window: read a specific snapshot
    * version (the previous one is kept after each mutation). */
  def readVersion(name: String, version: Int): DataFrame = {
    val dir = versionDir(name, version)
    require(Files.exists(dir),
      s"version $version of $name is not retained (current: ${currentVersion(name)})")
    snapshot(name, version).drop(Warehouse.BucketCol)
  }

  /** Compaction: appends accumulate one part-file batch per call (the
    * small-files problem); rewrite the current snapshot into
    * `numFiles` files without changing its rows. */
  def compact(name: String, numFiles: Int = 1): Unit =
    rewrite(name, _.repartition(numFiles))

  /** Hive-style partition columns per table: `runs` is laid out by
    * pipeline (SURVEY §4 "partition-per-pipeline data layout") so
    * pipeline-scoped queries prune whole directories before any IO, and
    * the run-keyed bulk tables (files + per-pipeline units) are laid out
    * by a runId hash bucket so RUN-SCOPED MUTATIONS rewrite one bucket,
    * not the table (see [[rewriteForRuns]]). */
  private def partitionColsOf(name: String): Seq[String] =
    if (name == Warehouse.Runs) Seq("pipeline")
    else if (Warehouse.isRunBucketed(name)) Seq(Warehouse.BucketCol)
    else Seq.empty

  /** Tiny-commit fast path (optimization r18, guide §5): a frame whose
    * optimized plan is a driver-resident `LocalRelation` of at most
    * [[Warehouse.LocalWriteMaxRows]] rows — the meta/codebook/anchor
    * tables every indexed/persisted query commits — is written as one
    * parquet file DIRECTLY from the driver (same
    * [[org.apache.spark.sql.graft.LocalParquet]] write support the
    * distributed sink uses), skipping the Spark job + Hadoop commit
    * protocol that cost ~0.3 s per 1-row overwrite. Snapshot isolation is
    * untouched: the file lands in the not-yet-referenced next version
    * directory and the caller swings the pointer afterwards, exactly like
    * the distributed path (a crash in between leaves an orphan dir and
    * readers on the old version — WarehouseSpec pins this). Partitioned
    * tables and anything not already on the driver keep the Spark
    * writer. Returns true when the fast path handled the write. */
  private def writeLocalFastPath(name: String, df: DataFrame, dir: Path,
      fresh: Boolean = true): Boolean = {
    if (partitionColsOf(name).nonEmpty) return false
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.data.length <= Warehouse.LocalWriteMaxRows =>
        if (fresh) {
          // a crashed earlier attempt may have left an uncommitted dir at
          // this version; SaveMode.Overwrite would clobber it — match that
          deleteRecursively(dir)
          org.apache.spark.sql.graft.LocalParquet.write(spark, l.output, l.data, dir)
        } else {
          // append into a live version dir: unique stem, no clobbering
          org.apache.spark.sql.graft.LocalParquet.write(spark, l.output, l.data, dir,
            fileStem = s"part-local-${java.util.UUID.randomUUID()}")
        }
        true
      case _ => false
    }
  }

  private def write(df: DataFrame, name: String, path: String, mode: SaveMode): Unit = {
    val cols = partitionColsOf(name)
    val df2 =
      if (cols == Seq(Warehouse.BucketCol) && !df.columns.contains(Warehouse.BucketCol))
        df.withColumn(Warehouse.BucketCol, Warehouse.bucketCol(col("runId")))
      else df
    val w = if (cols.isEmpty) df2.write else df2.write.partitionBy(cols: _*)
    w.mode(mode).parquet(path)
  }

  /** Append rows (new part-files into the current version — no rewrite).
    * Driver-resident tiny batches take the same fast path as
    * [[overwrite]] (one uniquely-named part file, no Spark job); the
    * append contract is unchanged — new files land in the live version
    * directory either way. */
  def append(name: String, df: DataFrame): Unit = synchronized {
    val v = currentVersion(name)
    if (v < 0) {
      Files.createDirectories(tableDir(name))
      if (!writeLocalFastPath(name, df, versionDir(name, 0), fresh = true))
        write(df, name, versionDir(name, 0).toString, SaveMode.Overwrite)
      setVersion(name, 0)
    } else {
      if (!writeLocalFastPath(name, df, versionDir(name, v), fresh = false))
        write(df, name, versionDir(name, v).toString, SaveMode.Append)
    }
  }

  /** Copy-on-write mutation: materialize `f(current)` as version N+1 and
    * swing the pointer. The transform must be a pure DataFrame transform
    * (filter/withColumn/...); it executes distributed, and only the
    * pointer update is driver-side.
    *
    * Snapshot retention: the `retain` most-recent prior versions stay on
    * disk (only N−retain is vacuumed) so lazy DataFrames opened before
    * the rewrite stay evaluable — the same grace window table formats
    * provide via time-travel retention. */
  def rewrite(name: String, f: DataFrame => DataFrame): Unit = synchronized {
    val v = currentVersion(name)
    require(v >= 0, s"cannot rewrite missing table $name")
    val next = v + 1
    write(f(read(name)), name, versionDir(name, next).toString, SaveMode.Overwrite)
    setVersion(name, next)
    deleteRecursively(versionDir(name, next - retain - 1))
  }

  /** Run-scoped copy-on-write: rewrite ONLY the hash-bucket partitions the
    * given runs live in; every other partition of the new snapshot is a
    * HARD LINK to the previous version's files (an object-store backend
    * would reference the unchanged files in table metadata the same way —
    * this is exactly Delta/Iceberg's file-reuse commit). Mutation cost is
    * O(touched runs' buckets), not O(table) — the difference between a
    * label patch rewriting ~1/64th of a 100 TB units table and rewriting
    * all of it.
    *
    * `f` sees only the touched buckets' rows and must keep every row's
    * runId (it may drop rows entirely — deletes — or update columns). */
  def rewriteForRuns(name: String, runIds: Seq[String], f: DataFrame => DataFrame): Unit =
    rewriteScoped(name, runIds.map(Warehouse.bucketOf(_).toString).distinct, f)

  /** Partition-scoped copy-on-write over the table's partition column
    * (`pipeline` for runs, the runId bucket for units/files): rewrite the
    * named partitions, hard-link the rest. */
  def rewriteScoped(name: String, partitionValues: Seq[String],
      f: DataFrame => DataFrame): Unit = synchronized {
    val pcols = partitionColsOf(name)
    if (pcols.isEmpty) { rewrite(name, f); return }
    val pcol = pcols.head
    val v = currentVersion(name)
    require(v >= 0, s"cannot rewrite missing table $name")
    val next = v + 1
    val prevDir = versionDir(name, v)
    val nextDir = versionDir(name, next)

    // partition pruning makes this read touch only the scoped directories
    val touched = snapshot(name, v)
      .filter(col(pcol).cast("string").isin(partitionValues: _*))
      .drop(Warehouse.BucketCol)
    write(f(touched), name, nextDir.toString, SaveMode.Overwrite)

    // link every untouched partition dir from the previous snapshot.
    // Spark percent-escapes special characters in partition directory
    // names, so the touched-set match decodes the on-disk leaf value
    // (ExternalCatalogUtils.unescapePathName) before comparing — matching
    // on the raw string would miss an escaped touched partition and
    // hard-link the PREVIOUS snapshot's files over the rewritten one
    val touchedValues = partitionValues.toSet
    if (Files.exists(prevDir)) {
      val ls = Files.list(prevDir)
      try ls.forEach { p =>
        val leaf = p.getFileName.toString
        val untouched = Files.isDirectory(p) && leaf.startsWith(s"$pcol=") &&
          !touchedValues(
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(leaf.stripPrefix(s"$pcol=")))
        if (untouched) linkTree(p, nextDir.resolve(leaf))
      } finally ls.close()
    }
    // a fully-empty result writes no files at all; park an empty (but
    // schema-bearing) parquet inside a partition dir so the snapshot stays
    // readable and layout-consistent with future appends
    if (!hasParquet(nextDir)) {
      val schema = f(touched).schema
      val tmp = Files.createTempDirectory(tableDir(name), "_empty")
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val slot = nextDir.resolve(s"$pcol=0")
      Files.createDirectories(slot)
      val ls = Files.list(tmp)
      try ls.forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          Files.move(p, slot.resolve(p.getFileName.toString))
      } finally ls.close()
      deleteRecursively(tmp)
    }
    setVersion(name, next)
    deleteRecursively(versionDir(name, next - retain - 1))
  }

  private def hasParquet(dir: Path): Boolean = {
    val s = Files.walk(dir)
    try s.anyMatch(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
    finally s.close()
  }

  /** Hard-link a partition directory tree into the new snapshot (copy as
    * the fallback for filesystems without link support). */
  private def linkTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        try Files.createLink(t, p)
        catch { case _: UnsupportedOperationException => Files.copy(p, t) }
      }
    } finally s.close()
  }

  /** Drop the table entirely (pointer + all retained versions) — a
    * filesystem-only operation, no Spark job. The cheap way for a rebuild
    * path to express "no table" where an empty-frame [[overwrite]] would
    * pay a full parquet write job + commit just to store zero rows
    * (optimization r17; [[SparseIndex.save]]'s tombstone reset). After a
    * drop, [[exists]] is false and a future write starts at version 0.
    *
    * SHARPER than a mutation (ADVICE r17): drop deletes the retained
    * prior versions too, so it does NOT honor the `retain` grace window
    * that [[overwrite]]/[[rewrite]] give lazy readers — a lazy DataFrame
    * opened before the drop fails on evaluation, where an empty-overwrite
    * would have kept its snapshot readable. Callers must only drop tables
    * whose readers are strictly resolve-at-query-time (the
    * [[SparseIndex]] tombstone pattern: every query re-reads `__tomb`
    * through [[exists]] at plan-build time); a table with long-lived lazy
    * readers must be reset with an empty [[overwrite]] instead. */
  def drop(name: String): Unit = synchronized {
    deleteRecursively(tableDir(name))
  }

  /** Replace the table wholesale (used by tests/bootstrap). */
  def overwrite(name: String, df: DataFrame): Unit =
    overwrite(name, df, Map.empty[String, String])

  /** [[overwrite]] carrying commit metadata: `meta` is written INSIDE the
    * new version directory (underscore-prefixed, so parquet scans ignore
    * it) BEFORE the pointer flips — the metadata commits atomically with
    * the data it describes, never ahead of or behind it. This is how
    * exactly-once sinks record their progress (e.g. the last absorbed
    * micro-batch id, [[Rollups.hourlyStream]]): replaying a batch after a
    * failure re-reads the meta of the LAST COMMITTED version. */
  def overwrite(name: String, df: DataFrame, meta: Map[String, String]): Unit =
    synchronized {
      val next = currentVersion(name) + 1
      Files.createDirectories(tableDir(name))
      if (!writeLocalFastPath(name, df, versionDir(name, next)))
        write(df, name, versionDir(name, next).toString, SaveMode.Overwrite)
      if (meta.nonEmpty) {
        val lines = meta.toSeq.sorted
          .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
        Files.write(versionDir(name, next).resolve(Warehouse.MetaFile),
          lines.getBytes(StandardCharsets.UTF_8))
      }
      setVersion(name, next)
      deleteRecursively(versionDir(name, next - retain - 1))
    }

  /** Commit metadata of the table's CURRENT version (empty when the table
    * is missing or its last commit carried none). */
  def commitMeta(name: String): Map[String, String] = {
    val v = currentVersion(name)
    if (v < 0) return Map.empty
    val p = versionDir(name, v).resolve(Warehouse.MetaFile)
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1)) }
      .toMap
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

object Warehouse {
  /** Table names (reference `adapters/MongodbAdapter.scala:36-65`). */
  val Runs = "runs"
  val Files = "files"
  val Users = "users"
  val References = "references"
  val Annotations = "annotations"
  def samples(pipeline: String): String = s"${pipeline}_samples"
  def readGroups(pipeline: String): String = s"${pipeline}_readGroups"

  /** Commit-metadata sidecar inside each version directory (underscore
    * prefix keeps it invisible to parquet scans). */
  val MetaFile = "_commit.properties"

  /** Row cap for the driver-side tiny-commit fast path — frames this
    * small are metadata-class (meta rows, codebooks, anchor sets), far
    * below anything worth a distributed write. */
  val LocalWriteMaxRows = 10000

  /** Internal partition column for run-scoped mutation (never exposed by
    * [[Warehouse.read]]). */
  val BucketCol = "runBucket"
  val NumBuckets = 64

  /** Tables keyed by runId whose mutations are run-scoped. */
  def isRunBucketed(name: String): Boolean =
    name == Files || name.endsWith("_samples") || name.endsWith("_readGroups")

  /** Engine-side bucket expression; must agree with [[bucketOf]]. */
  def bucketCol(runId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(crc32(runId.cast("binary")), lit(NumBuckets.toLong)).cast("int")

  /** Driver-side bucket of a runId — java.util.zip.CRC32 computes the
    * identical polynomial as Spark's `crc32`. */
  def bucketOf(runId: String): Int = {
    val c = new java.util.zip.CRC32()
    c.update(runId.getBytes(StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, NumBuckets.toLong).toInt
  }
}
