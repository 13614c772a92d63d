package graft.ingest

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Records.User
import graft.pipelines.{MaplePipeline, PlainPipeline}
import graft.stats.{Descriptive, StatsProcessor}
import graft.store.Warehouse

/** End-to-end ingest golden test replaying the reference's fixture corpus
  * (reference `it/.../BaseStatsControllerSpec.scala:52-91`: after uploading
  * 3 maple runs + 1 plain run, /stats/runs returns
  * maple {nRuns:3, nSamples:5, nReadGroups:7}, plain {1,0,0}). */
class IngestSpec extends SparkSpec {

  private def fixture(path: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource(s"/fixtures/$path").toURI))

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  private val avg = User("avg", "avg@test.id")
  private val unv = User("unv", "unv@test.id", verified = false)

  private def freshIngestor(): (Warehouse, RunIngestor) = {
    val root = Files.createTempDirectory("graft-wh").toString
    val wh = new Warehouse(spark, root)
    val ing = new RunIngestor(wh,
      Map("maple" -> MaplePipeline, "plain" -> PlainPipeline),
      () => Timestamp.valueOf("2024-06-01 12:00:00"))
    (wh, ing)
  }

  "RunIngestor.upload" should "reproduce the reference's global stats golden numbers" in {
    val (wh, ing) = freshIngestor()
    ing.upload(fixture("maple/maple_single_sample_multi_rg.json"), "a.json", "maple", avg)
    ing.upload(fixture("maple/maple_multi_sample_multi_rg.json"), "b.json", "maple", avg)
    ing.upload(fixture("maple/maple_multi_sample_single_rg.json"), "c.json", "maple", avg)
    ing.upload(fixture("plain/plain.json"), "d.json", "plain", avg)

    val stats = StatsProcessor.globalRunStats(wh.read(Warehouse.Runs)).collect()
    stats.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))) shouldBe
      Array(("maple", 3L, 5L, 7L), ("plain", 1L, 0L, 0L))
  }

  it should "shred the maple fixture into the reference's unit records" in {
    val (wh, ing) = freshIngestor()
    val runId = ing.upload(
      fixture("maple/maple_multi_sample_multi_rg.json"), "m.json", "maple", avg)

    val samples = wh.read(Warehouse.samples("maple"))
    samples.count() shouldBe 2
    samples.select("labels.runName").distinct().collect()(0).getString(0) shouldBe "Maple_04"
    samples.filter(col("labels.sampleName") === "sampleB")
      .select("stats.nSnps").collect()(0).getLong(0) shouldBe 250L

    val rgs = wh.read(Warehouse.readGroups("maple"))
    rgs.count() shouldBe 3
    // FK traversal: sampleB's read groups
    val sampleBId = samples.filter(col("labels.sampleName") === "sampleB")
      .select("_id").collect()(0).getString(0)
    rgs.filter(col("sampleId") === sampleBId).count() shouldBe 2

    // reference aggregate golden numbers (FIXTURES.md §1): nReadsInput over
    // the 3 read groups: n=3 sum=70000 mean=23333.33 median=20000
    val agg = StatsProcessor.getAggregateStats(
      rgs.filter(col("runId") === runId), Seq.empty,
      Seq("m" -> col("stats.nReadsInput")), Descriptive.exactIntStats).collect()(0)
    agg.getAs[Long]("m_n") shouldBe 3L
    agg.getAs[Long]("m_sum") shouldBe 70000L
    agg.getAs[Double]("m_mean") shouldBe 23333.333333333332 +- 1e-6
    agg.getAs[Double]("m_median") shouldBe 20000.0
  }

  it should "store run records with derived counters and child id arrays" in {
    val (wh, ing) = freshIngestor()
    val runId = ing.upload(
      fixture("maple/maple_multi_sample_multi_rg.json"), "m.json", "maple", avg)
    val run = wh.read(Warehouse.Runs).filter(col("runId") === runId).collect()(0)
    run.getAs[Long]("nSamples") shouldBe 2L
    run.getAs[Long]("nReadGroups") shouldBe 3L
    run.getAs[collection.Seq[String]]("sampleIds") should have size 2
    run.getAs[org.apache.spark.sql.Row]("labels").getAs[String]("runName") shouldBe "Maple_04"
    run.getAs[Timestamp]("deletionTimeUtc") shouldBe null
  }

  it should "reject a duplicate upload with the existing run id (409)" in {
    val (_, ing) = freshIngestor()
    val bytes = fixture("maple/maple_single_sample_single_rg.json")
    val runId = ing.upload(bytes, "m.json", "maple", avg)
    val e = the[Ingest.DuplicateFileException] thrownBy
      ing.upload(bytes, "m-again.json", "maple", avg)
    e.existingRunId shouldBe runId
  }

  it should "accept the same content from a different uploader" in {
    val (wh, ing) = freshIngestor()
    val bytes = fixture("maple/maple_single_sample_single_rg.json")
    ing.upload(bytes, "m.json", "maple", avg)
    ing.upload(bytes, "m.json", "maple", User("avg2", "avg2@test.id"))
    wh.read(Warehouse.Runs).count() shouldBe 2
  }

  it should "transparently gunzip uploads" in {
    val (wh, ing) = freshIngestor()
    ing.upload(gzip(fixture("maple/maple_multi_sample_multi_rg.json")),
      "m.json.gz", "maple", avg)
    wh.read(Warehouse.readGroups("maple")).count() shouldBe 3
  }

  it should "reject schema-invalid JSON (422), non-JSON (400), oversize (413), unverified (403)" in {
    val (_, ing) = freshIngestor()
    val schemaErr = the[Ingest.SchemaException] thrownBy
      ing.upload(fixture("invalid.json"), "i.json", "maple", avg)
    schemaErr.errors should not be empty
    an[Ingest.NotJsonException] should be thrownBy
      ing.upload(fixture("not.json"), "n.json", "maple", avg)
    an[Ingest.PayloadTooLargeException] should be thrownBy
      ing.upload(new Array[Byte](17 * 1024 * 1024), "big.json", "maple", avg)
    an[Ingest.NotAuthorizedException] should be thrownBy
      ing.upload(fixture("plain/plain.json"), "p.json", "plain", unv)
    an[Ingest.UnknownPipelineException] should be thrownBy
      ing.upload(fixture("plain/plain.json"), "p.json", "nope", avg)
  }

  "Ingest.unitId" should "join its parts with a NUL character" in {
    Ingest.unitId("a", "b") shouldBe Ingest.md5Hex("a\u0000b")
    Ingest.unitId("a", "b") shouldBe "70350f6027bce3713f6b76473084309b"
  }

  "bulkIngest" should "ingest a batch engine-side with keep-first dedup" in {
    import spark.implicits._
    val (wh, ing) = freshIngestor()
    val batch = Seq(
      (new String(fixture("maple/maple_single_sample_single_rg.json"), "UTF-8"), "a.json", "avg"),
      (new String(fixture("maple/maple_multi_sample_multi_rg.json"), "UTF-8"), "b.json", "avg"),
      (new String(fixture("maple/maple_single_sample_single_rg.json"), "UTF-8"), "dup.json", "avg")
    ).toDF("content", "fileName", "uploaderId")
    ing.bulkIngest(batch, "maple") shouldBe 2

    val runs = wh.read(Warehouse.Runs)
    runs.count() shouldBe 2
    StatsProcessor.globalRunStats(runs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))) shouldBe
      Array(("maple", 2L, 3L, 4L))

    // idempotent: re-ingesting the same batch adds nothing
    ing.bulkIngest(batch, "maple") shouldBe 0
    wh.read(Warehouse.Runs).count() shouldBe 2

    // regression: NEW content into a non-empty warehouse must land fully —
    // the anti-join is snapshotted before the files append invalidates the
    // table's file index, or the run/unit records silently vanish
    val batch2 = Seq(
      (new String(fixture("maple/maple_single_sample_multi_rg.json"), "UTF-8"),
        "c.json", "avg")
    ).toDF("content", "fileName", "uploaderId")
    ing.bulkIngest(batch2, "maple") shouldBe 1
    wh.read(Warehouse.Runs).count() shouldBe 3
    wh.read(Warehouse.samples("maple")).count() shouldBe 4 // 3 + 1 new
  }

  "Warehouse.rewrite" should "produce a new snapshot version atomically" in {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-wh").toString
    val wh = new Warehouse(spark, root)
    wh.append("t", Seq((1, "a"), (2, "b")).toDF("id", "x"))
    wh.currentVersion("t") shouldBe 0
    wh.rewrite("t", _.filter(col("id") =!= 1))
    wh.currentVersion("t") shouldBe 1
    wh.read("t").select("id").as[Int].collect() shouldBe Array(2)
  }

  it should "time-travel to the retained previous version and compact small files" in {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-wh").toString
    val wh = new Warehouse(spark, root)
    (1 to 5).foreach(i => wh.append("t", Seq((i, s"v$i")).toDF("id", "x")))
    val beforeFiles = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "t", "v0")).filter(p =>
      p.toString.endsWith(".parquet")).count()
    beforeFiles should be >= 5L // one part batch per append

    wh.compact("t")
    wh.read("t").count() shouldBe 5
    val afterFiles = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "t", s"v${wh.currentVersion("t")}"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    afterFiles shouldBe 1L

    // time travel: v0 (pre-compaction) is retained and readable
    wh.readVersion("t", 0).count() shouldBe 5
    an[IllegalArgumentException] should be thrownBy wh.readVersion("t", 99)
  }

  "getRuns" should "prune the runs scan to the requested pipeline partitions" in {
    val (wh, ing) = freshIngestor()
    ing.upload(fixture("maple/maple_single_sample_single_rg.json"), "m.json", "maple", avg)
    ing.upload(fixture("plain/plain.json"), "p.json", "plain", avg)
    val plan = graft.lifecycle.RunsLifecycle.getRuns(wh, avg, Seq("maple"))
      .queryExecution.executedPlan.toString
    // the pipeline filter must reach the partitioned scan as a partition
    // filter (directory pruning), not a post-scan predicate
    plan should include("PartitionFilters")
    plan should include("pipeline")
    graft.lifecycle.RunsLifecycle.getRuns(wh, avg, Seq("maple")).count() shouldBe 1
  }

  "Warehouse.rewriteForRuns" should "rewrite only the touched bucket and hard-link the rest" in {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-wh").toString
    val wh = new Warehouse(spark, root)
    // runIds spread across several hash buckets
    val runIds = (1 to 20).map(i => f"run$i%02d")
    wh.append("demo_samples",
      runIds.map(r => (r, s"unit-$r", 1L)).toDF("runId", "_id", "v"))
    val target = runIds.head
    val targetBucket = Warehouse.bucketOf(target)
    runIds.map(Warehouse.bucketOf).distinct.size should be > 1 // scoping is meaningful

    wh.rewriteForRuns("demo_samples", Seq(target),
      _.withColumn("v", when(col("runId") === target, lit(99L)).otherwise(col("v"))))

    // semantics: only the target run changed, all rows survive
    val after = wh.read("demo_samples")
    after.count() shouldBe 20
    after.filter(col("v") === 99L).select("runId").as[String].collect() shouldBe
      Array(target)

    // physics: an untouched bucket's file in v1 IS v0's file (hard link)
    val otherBucket = runIds.map(Warehouse.bucketOf).find(_ != targetBucket).get
    def bucketFiles(version: Int, bucket: Int) = {
      val d = java.nio.file.Paths.get(root, "demo_samples", s"v$version",
        s"${Warehouse.BucketCol}=$bucket")
      java.nio.file.Files.list(d).filter(_.toString.endsWith(".parquet"))
        .sorted().toArray.map(_.asInstanceOf[java.nio.file.Path])
    }
    val (before0, after0) = (bucketFiles(0, otherBucket), bucketFiles(1, otherBucket))
    after0.length shouldBe before0.length
    java.nio.file.Files.isSameFile(before0.head, after0.head) shouldBe true
    // while the touched bucket was genuinely rewritten
    java.nio.file.Files.isSameFile(
      bucketFiles(0, targetBucket).head, bucketFiles(1, targetBucket).head) shouldBe false

    // deleting the run empties its bucket but leaves everything else linked
    wh.rewriteForRuns("demo_samples", Seq(target), _.filter(col("runId") =!= target))
    wh.read("demo_samples").count() shouldBe 19
    wh.read("demo_samples").filter(col("runId") === target).count() shouldBe 0
  }

  "Warehouse.rewriteScoped" should "match touched partitions whose values Spark percent-escapes" in {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-wh").toString
    val wh = new Warehouse(spark, root)
    // 'a:b' is stored as pipeline=a%3Ab on disk; a raw-string dir match
    // would treat the touched partition as untouched and hard-link the
    // previous snapshot's files next to the rewritten ones (row dupes)
    wh.append(Warehouse.Runs,
      Seq(("r1", "a:b", 1L), ("r2", "plain", 1L)).toDF("runId", "pipeline", "v"))
    wh.rewriteScoped(Warehouse.Runs, Seq("a:b"),
      _.withColumn("v", lit(99L)))
    val after = wh.read(Warehouse.Runs)
    after.count() shouldBe 2
    after.filter(col("pipeline") === "a:b").select("v").as[Long].collect() shouldBe
      Array(99L)
    after.filter(col("pipeline") === "plain").select("v").as[Long].collect() shouldBe
      Array(1L)
  }

  it should "keep the previous snapshot readable for already-open frames" in {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-wh").toString
    val wh = new Warehouse(spark, root)
    wh.append("t", Seq((1, "a"), (2, "b")).toDF("id", "x"))
    val openBefore = wh.read("t") // lazy frame over v0
    wh.rewrite("t", _.filter(col("id") =!= 1))
    // the reader opened before the rewrite still evaluates (v0 retained)
    openBefore.count() shouldBe 2
    wh.read("t").count() shouldBe 1
    // a second rewrite vacuums v0
    wh.rewrite("t", identity)
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "t", "v0")) shouldBe false
  }

  "job-count guards" should "bound an upload and a duplicate upload" in {
    val (_, ing) = freshIngestor()
    val first = fixture("maple/maple_single_sample_single_rg.json")
    ing.upload(first, "a.json", "maple", avg)
    val (_, uploadJobs) = jobsIn(ing.upload(
      fixture("maple/maple_multi_sample_multi_rg.json"), "b.json", "maple", avg))
    val (dup, dupJobs) = jobsIn(intercept[Ingest.DuplicateFileException](
      ing.upload(first, "a-again.json", "maple", avg)))
    dup.existingRunId should not be empty
    uploadJobs should be <= 7 // 8 before driver-side snapshots
    dupJobs should be <= 2    // 3 before
  }
}
