package org.apache.spark.sql.graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path => HPath}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetOutputFormat}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.HadoopFSUtils

/** Driver-side parquet I/O for the Warehouse: [[write]] and its read
  * half, [[openSnapshot]].
  *
  * [[write]] is for TINY, already-driver-resident frames
  * (optimization r18, guide §5 "the driver should do almost no data
  * work" — and a 1-row frame is no data work either way).
  *
  * A `Seq(...).toDF` commit — the Warehouse meta/codebook/anchor tables,
  * one to a few thousand rows that already LIVE on the driver as a
  * `LocalRelation` — still paid a full Spark write job per overwrite:
  * job scheduling, a task, the Hadoop commit protocol's temp-dir dance
  * (~0.3 s each on an otherwise idle local session, several times per
  * indexed/persisted query). This writes the same rows through the same
  * [[ParquetWriteSupport]] Spark's distributed parquet sink uses — same
  * schema conversion, same physical types, byte-compatible with a normal
  * `df.write.parquet` of that frame — with zero jobs and zero commit
  * protocol. Callers own atomicity exactly as before (the Warehouse
  * writes into a fresh version directory and swings the `_latest`
  * pointer afterwards).
  *
  * The session's own parquet write configuration (legacy format flag,
  * timestamp type, rebase modes, compression codec) is forwarded, so the
  * produced file matches what the distributed writer would have
  * produced for the same session. */
object LocalParquet {

  /** Write `rows` (InternalRows matching `output`) as ONE parquet file
    * inside `dir` (created if missing). */
  def write(
      spark: SparkSession,
      output: Seq[Attribute],
      rows: Seq[InternalRow],
      dir: java.nio.file.Path,
      fileStem: String = "part-00000"): Unit = {
    val schema = StructType(output.map(a =>
      StructField(a.name, a.dataType, a.nullable, a.metadata)))
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    val codec = CompressionCodecName.fromConf(
      sqlConf.parquetCompressionCodec.toUpperCase(java.util.Locale.ROOT))
    java.nio.file.Files.createDirectories(dir)
    val file = new HPath(dir.resolve(
      s"$fileStem-${codec.getExtension.stripPrefix(".")}.parquet").toString)
    val writer = new ParquetOutputFormat[InternalRow](new ParquetWriteSupport)
      .getRecordWriter(conf, file, codec)
    try rows.foreach(r => writer.write(null, r))
    finally writer.close(null)
  }

  /** Open the parquet snapshot in `dir` the way `spark.read.parquet(dir)`
    * does, but resolved on the driver: no Spark job. `spark.read.parquet`
    * launches one job to read a footer for the schema and, once a table
    * has more partition directories than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`, another to
    * list them; on a warehouse snapshot both are pure overhead.
    *
    * The steps are Spark's own, run on the driver:
    *  1. walk `dir` with java.nio, skipping the names Spark's listing
    *     hides (`HadoopFSUtils.shouldFilterOutPathName`: `_`/`.` prefixes
    *     except `k=v` partition dirs), in the same order and with the
    *     same file statuses the listing produces;
    *  2. build an [[InMemoryFileIndex]] over `dir` fed that listing
    *     through a [[FileStatusCache]], with no user schema, so partition
    *     inference types the partition columns exactly as before;
    *  3. read ONE footer through `ParquetFileFormat.readSchemaFromFooter`:
    *     the first file in path order, which is Spark's pick when there
    *     are no parquet summary files (the warehouse writes none);
    *  4. wrap both in the [[HadoopFsRelation]] `DataSource` would build.
    *
    * The cache hands the listing over once and drops it on
    * `invalidateAll`, so `refresh()`/`refreshByPath` re-list from disk.
    * Returns None — the caller falls back to `spark.read.parquet`, and to
    * its errors — when `dir` holds no data file or the session asks for
    * schema merging. */
  def openSnapshot(spark: SparkSession, dir: JPath): Option[DataFrame] = {
    val sqlConf = spark.sessionState.conf
    if (sqlConf.isParquetSchemaMergingEnabled || !Files.isDirectory(dir)) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new HPath(dir.toString)
    val fs = root.getFileSystem(hadoopConf)
    val qualifiedRoot = fs.makeQualified(root)
    val options = CaseInsensitiveMap(Map("path" -> dir.toString))
    val index = new InMemoryFileIndex(spark, Seq(qualifiedRoot), options, None,
      new HandOverCache(qualifiedRoot, listLeafFiles(fs, dir).toArray))
    index.allFiles().minByOption(_.getPath.toString).map { schemaFile =>
      val footer = new Footer(schemaFile.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(schemaFile, hadoopConf), SKIP_ROW_GROUPS))
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
        nanosAsLong = sqlConf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = sqlConf.parquetReaderRespectUnknownTypeAnnotation)
      val dataSchema = ParquetFileFormat.readSchemaFromFooter(footer, converter)
      spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
        dataSchema.asNullable, None, new ParquetFileFormat, options)(spark))
    }
  }

  /** Leaf files under `dir` in the order Spark's listing returns them: a
    * directory's files (in directory order) before its subdirectories'.
    * Each status is built as Hadoop's local file system and Spark's
    * listing build it, path form included (`file:///...`). */
  private def listLeafFiles(fs: FileSystem, dir: JPath): Seq[FileStatus] = {
    val ds = Files.newDirectoryStream(dir)
    val children =
      try ds.asScala.toVector.filterNot(p =>
        HadoopFSUtils.shouldFilterOutPathName(p.getFileName.toString))
      finally ds.close()
    val (dirs, files) = children
      .map(p => (p, Files.readAttributes(p, classOf[BasicFileAttributes])))
      .partition(_._2.isDirectory)
    files.map { case (p, attrs) =>
      val path = fs.makeQualified(new HPath(p.toString))
      val st = new FileStatus(attrs.size, false, 1, fs.getDefaultBlockSize(path),
        attrs.lastModifiedTime.toMillis, path)
      new LocatedFileStatus(st, fs.getFileBlockLocations(st, 0, st.getLen))
    } ++ dirs.flatMap { case (p, _) => listLeafFiles(fs, p) }
  }

  /** Serves one pre-computed listing of `root`, once: the index built over
    * it lists nothing itself, and any later listing goes to disk. */
  private final class HandOverCache(root: HPath, files: Array[FileStatus])
      extends FileStatusCache {
    private var listing: Option[Array[FileStatus]] = Some(files)
    override def getLeafFiles(path: HPath): Option[Array[FileStatus]] = synchronized {
      if (path != root) None
      else try listing finally listing = None
    }
    override def putLeafFiles(path: HPath, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = synchronized { listing = None }
  }
}
