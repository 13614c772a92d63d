package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalParquet
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.SparkSpec

/** Warehouse snapshot-retention and commit-metadata contracts (the
  * versioning behaviors the rollup/index artifacts build on; the
  * mutation semantics themselves are covered by the lifecycle suites). */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def dir() = Files.createTempDirectory("wh_spec").toString

  private def frame(tag: Int) =
    (0 until 10).map(i => (i.toLong, tag)).toDF("id", "tag")

  "retention" should "keep `retain` prior versions readable while mutations land" in {
    val wh = new Warehouse(spark, dir(), retain = 2)
    wh.overwrite("t", frame(0)) // v0
    wh.rewrite("t", _.withColumn("tag", lit(1))) // v1
    // the long-lived reader: a lazy frame opened at v1
    val openedAtV1 = wh.read("t")
    wh.rewrite("t", _.withColumn("tag", lit(2))) // v2
    wh.rewrite("t", _.withColumn("tag", lit(3))) // v3, v0 vacuumed
    wh.currentVersion("t") shouldBe 3
    // N−2 is still on disk under retain=2 — the reader survives two
    // mutations (under retain=1 this read would hit deleted files)
    openedAtV1.agg(max(col("tag"))).collect()(0).getInt(0) shouldBe 1
    wh.readVersion("t", 1).count() shouldBe 10
    // ...and N−3 (v0) is vacuumed
    an[IllegalArgumentException] should be thrownBy wh.readVersion("t", 0)
  }

  it should "vacuum beyond the window under the default retain=1" in {
    val wh = new Warehouse(spark, dir())
    wh.overwrite("t", frame(0)) // v0
    wh.rewrite("t", _.withColumn("tag", lit(1))) // v1
    wh.rewrite("t", _.withColumn("tag", lit(2))) // v2, v0 vacuumed
    wh.readVersion("t", 1).count() shouldBe 10
    an[IllegalArgumentException] should be thrownBy wh.readVersion("t", 0)
  }

  "commitMeta" should "flip atomically with the data and stay invisible to scans" in {
    val wh = new Warehouse(spark, dir())
    wh.overwrite("t", frame(0), Map("committedBatchId" -> "7", "note" -> "a=b"))
    wh.commitMeta("t") shouldBe Map("committedBatchId" -> "7", "note" -> "a=b")
    // underscore sidecar never leaks into the read
    wh.read("t").columns.toSeq shouldBe Seq("id", "tag")
    wh.read("t").count() shouldBe 10
    // a commit WITHOUT meta clears it (meta describes ITS version only)
    wh.overwrite("t", frame(1))
    wh.commitMeta("t") shouldBe Map.empty
  }

  // --- driver-side tiny-commit fast path (optimization r18) ----------

  "the local-relation fast path" should
      "write byte-compatible parquet: read-back equals the distributed write" in {
    val wh = new Warehouse(spark, dir())
    // mixed types incl. array<float> and nulls — the shapes the meta /
    // codebook / anchor tables actually commit
    val local = Seq(
      (1L, Some("a"), Seq(1.0f, 2.5f)),
      (2L, None, Seq.empty[Float]),
      (3L, Some("ü — é"), Seq(-0.0f, Float.MinPositiveValue)))
      .toDF("id", "s", "vec")
    wh.overwrite("tiny", local)                       // LocalRelation → fast path
    wh.overwrite("dist", local.repartition(1))        // non-local plan → Spark writer
    val a = wh.read("tiny").orderBy("id").collect().toSeq
    val b = wh.read("dist").orderBy("id").collect().toSeq
    a shouldBe b
    wh.read("tiny").schema shouldBe wh.read("dist").schema
    // the fast path wrote exactly one driver-side part file, no job
    val v0 = java.nio.file.Paths.get(wh.root, "tiny", "v0")
    val parts = java.nio.file.Files.list(v0).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
    parts.length shouldBe 1
    parts.head should include("part-00000-")
  }

  it should "keep the snapshot-isolation contract: an uncommitted version " +
      "dir never reaches readers, and a crashed leftover is clobbered" in {
    val wh = new Warehouse(spark, dir())
    wh.overwrite("t", frame(0)) // v0 committed
    // simulate a crash BETWEEN file write and pointer swing: an orphan
    // v1 exists, the pointer still says v0 — readers stay on v0
    val v1 = java.nio.file.Paths.get(wh.root, "t", "v1")
    java.nio.file.Files.createDirectories(v1)
    java.nio.file.Files.write(v1.resolve("garbage.parquet"), Array[Byte](1, 2, 3))
    wh.currentVersion("t") shouldBe 0
    wh.read("t").agg(max(col("tag"))).collect()(0).getInt(0) shouldBe 0
    // the retried commit clobbers the orphan and lands cleanly at v1
    wh.overwrite("t", frame(9))
    wh.currentVersion("t") shouldBe 1
    wh.read("t").agg(max(col("tag"))).collect()(0).getInt(0) shouldBe 9
    wh.read("t").count() shouldBe 10
  }

  it should "write an empty local frame as a schema-bearing readable table" in {
    val wh = new Warehouse(spark, dir())
    wh.overwrite("empty", frame(0).filter(lit(false)).limit(0))
    // (an empty local relation still commits a footer with the schema)
    wh.read("empty").count() shouldBe 0
    wh.read("empty").columns.toSeq shouldBe Seq("id", "tag")
  }

  it should "honor retention and commit meta identically to the Spark writer" in {
    val wh = new Warehouse(spark, dir(), retain = 1)
    wh.overwrite("t", frame(0), Map("batch" -> "1")) // v0, fast path
    wh.overwrite("t", frame(1), Map("batch" -> "2")) // v1, fast path
    wh.overwrite("t", frame(2))                      // v2 → v0 vacuumed
    wh.currentVersion("t") shouldBe 2
    wh.readVersion("t", 1).count() shouldBe 10
    an[IllegalArgumentException] should be thrownBy wh.readVersion("t", 0)
    wh.commitMeta("t") shouldBe Map.empty
  }

  // --- driver-side snapshot resolution --------------------------------

  private def versionDir(wh: Warehouse, name: String) =
    Paths.get(wh.root, name, s"v${wh.currentVersion(name)}")

  /** The driver-side resolver against `spark.read.parquet` on the same
    * version dir: same schema (nullability, partition column types and
    * metadata included), same files in the same order, same rows in the
    * same order. Returns the resolved frame. */
  private def assertParity(wh: Warehouse, name: String): DataFrame = {
    val dir = versionDir(wh, name)
    val viaSpark = spark.read.parquet(dir.toString)
    val (resolved, jobs) = jobsIn(LocalParquet.openSnapshot(spark, dir).get)
    jobs shouldBe 0
    resolved.schema shouldBe viaSpark.schema
    allFiles(resolved) shouldBe allFiles(viaSpark)
    resolved.collect().toSeq shouldBe viaSpark.collect().toSeq
    resolved
  }

  /** The files a frame's index lists, in its order. */
  private def allFiles(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.asInstanceOf[InMemoryFileIndex].allFiles().map(_.getPath.toString)
    }.flatten

  private def runIds(n: Int, tag: String) =
    (0 until n).map(i => (s"$tag-$i", i.toLong, s"payload $i")).toDF("runId", "n", "s")

  "the snapshot resolver" should "match spark.read.parquet on an unpartitioned table" in {
    val wh = new Warehouse(spark, dir())
    wh.append("t", frame(0))                   // driver-side fast path
    wh.append("t", frame(1).repartition(3))    // Spark writer: 3 part files
    wh.append("t", frame(2))
    assertParity(wh, "t").count() shouldBe 30
  }

  it should "match on runs, partition type and escaped pipeline values included" in {
    val wh = new Warehouse(spark, dir())
    val runs = Seq(("r1", "maple", 1L), ("r2", "a/b c%=", 2L), ("r3", "pref", 3L))
      .toDF("runId", "pipeline", "n")
    wh.append(Warehouse.Runs, runs)
    val df = assertParity(wh, Warehouse.Runs)
    df.schema("pipeline").dataType shouldBe StringType
    wh.read(Warehouse.Runs).filter(col("pipeline") === "a/b c%=")
      .select("runId").as[String].collect() shouldBe Array("r2")
  }

  it should "match on a 64-bucket table, which Spark lists with a job of its own" in {
    val wh = new Warehouse(spark, dir())
    wh.append(Warehouse.Files, runIds(400, "a"))
    wh.append(Warehouse.Files, runIds(50, "b"))
    val buckets = Files.list(versionDir(wh, Warehouse.Files)).toArray
      .count(_.toString.contains(s"${Warehouse.BucketCol}="))
    buckets shouldBe Warehouse.NumBuckets
    jobsIn(spark.read.parquet(versionDir(wh, Warehouse.Files).toString))._2 should be > 0
    val df = assertParity(wh, Warehouse.Files)
    df.schema(Warehouse.BucketCol).dataType shouldBe IntegerType
    wh.read(Warehouse.Files).count() shouldBe 450
  }

  it should "match on 0-row tables" in {
    val wh = new Warehouse(spark, dir())
    wh.overwrite("local", frame(0).filter(lit(false)).limit(0))
    wh.overwrite("dist", frame(0).repartition(2).filter(lit(false)))
    assertParity(wh, "local").count() shouldBe 0
    assertParity(wh, "dist").count() shouldBe 0
  }

  it should "match on a rewriteScoped result with a parked empty partition" in {
    val wh = new Warehouse(spark, dir())
    wh.append(Warehouse.Files, runIds(1, "only"))
    wh.rewriteForRuns(Warehouse.Files, Seq("only-0"), _.filter(lit(false)))
    Files.exists(versionDir(wh, Warehouse.Files).resolve(s"${Warehouse.BucketCol}=0")) shouldBe true
    assertParity(wh, Warehouse.Files).count() shouldBe 0
    wh.read(Warehouse.Files).columns.toSeq shouldBe Seq("runId", "n", "s")
  }

  it should "ignore bookkeeping and hidden files" in {
    val wh = new Warehouse(spark, dir())
    wh.overwrite("t", frame(0).repartition(2), Map("batch" -> "1")) // _SUCCESS, .crc, meta
    val v = versionDir(wh, "t")
    // not parquet: reading either one as data or for the schema would fail
    Files.write(v.resolve("_tmp.parquet"), Array[Byte](1, 2, 3))
    Files.write(v.resolve(".hidden.parquet"), Array[Byte](1, 2, 3))
    val names = Files.list(v).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    names should contain allOf ("_SUCCESS", Warehouse.MetaFile)
    names.exists(_.endsWith(".crc")) shouldBe true
    val df = assertParity(wh, "t")
    allFiles(df).foreach(f => f should (not include "/_" and not include "/."))
    wh.read("t").count() shouldBe 10
  }

  it should "see appended files on the next read; a frame opened before keeps its snapshot" in {
    val wh = new Warehouse(spark, dir())
    wh.append(Warehouse.Files, runIds(10, "a"))
    val before = wh.read(Warehouse.Files)
    val beforeForRuns = wh.readForRuns(Warehouse.Files, Seq("b-0"))
    wh.append(Warehouse.Files, runIds(5, "b").repartition(2))
    before.count() shouldBe 10
    beforeForRuns.filter(col("runId") === "b-0").count() shouldBe 0
    wh.read(Warehouse.Files).count() shouldBe 15
    wh.readForRuns(Warehouse.Files, Seq("b-0")).filter(col("runId") === "b-0")
      .count() shouldBe 1
  }

  it should "keep readForRuns' bucket filter a partition filter of the scan" in {
    val wh = new Warehouse(spark, dir())
    wh.append(Warehouse.Files, runIds(200, "a"))
    val df = wh.readForRuns(Warehouse.Files, Seq("a-7"))
    val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    scans should have size 1
    scans.head.partitionFilters.flatMap(_.references.map(_.name)) should
      contain(Warehouse.BucketCol)
    df.filter(col("runId") === "a-7").select("n").as[Long].collect() shouldBe Array(7L)
  }

  it should "open read, readForRuns and readVersion with no Spark job" in {
    val wh = new Warehouse(spark, dir())
    wh.append(Warehouse.Files, runIds(400, "a"))
    wh.rewriteForRuns(Warehouse.Files, Seq("a-1"), _.filter(col("runId") =!= "a-1"))
    jobsIn(wh.read(Warehouse.Files))._2 shouldBe 0
    jobsIn(wh.readForRuns(Warehouse.Files, Seq("a-2", "a-3")))._2 shouldBe 0
    jobsIn(wh.readVersion(Warehouse.Files, 0))._2 shouldBe 0
    wh.readVersion(Warehouse.Files, 0).count() shouldBe 400
    wh.read(Warehouse.Files).count() shouldBe 399
  }

  it should "leave a snapshot with no data file to spark.read.parquet and its error" in {
    val wh = new Warehouse(spark, dir())
    wh.overwrite("t", frame(0))
    val v = versionDir(wh, "t")
    Files.list(v).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).foreach(p => Files.delete(p))
    LocalParquet.openSnapshot(spark, v) shouldBe None
    val viaSpark = the[Exception] thrownBy spark.read.parquet(v.toString)
    val viaRead = the[Exception] thrownBy wh.read("t")
    viaRead.getClass shouldBe viaSpark.getClass
    viaRead.getMessage shouldBe viaSpark.getMessage
  }

  it should "re-list from disk on refreshByPath" in {
    val wh = new Warehouse(spark, dir())
    wh.append("t", frame(0))
    val df = wh.read("t").cache()
    try {
      df.count() shouldBe 10
      wh.append("t", frame(1))
      df.count() shouldBe 10
      spark.catalog.refreshByPath(versionDir(wh, "t").toString)
      df.count() shouldBe 20
    } finally df.unpersist()
  }
}
