package graft.lifecycle

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.RunIngestor
import graft.lifecycle.JsonPatch._
import graft.model.Records.User
import graft.pipelines.{MaplePipeline, PlainPipeline}
import graft.store.Warehouse

/** Mirrors the reference's PatchRunIdRunsControllerSpec /
  * DeleteRunIdRunsControllerSpec semantics over the fixture corpus. */
class RunsLifecycleSpec extends SparkSpec {

  private val avg = User("avg", "avg@test.id")
  private val avg2 = User("avg2", "avg2@test.id")
  private val admin = User("admin", "admin@test.id", isAdmin = true)

  private def fixture(path: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource(s"/fixtures/$path").toURI))

  private def freshRun(): (Warehouse, String) = {
    val root = Files.createTempDirectory("graft-wh").toString
    val wh = new Warehouse(spark, root)
    val ing = new RunIngestor(wh,
      Map("maple" -> MaplePipeline, "plain" -> PlainPipeline),
      () => Timestamp.valueOf("2024-06-01 12:00:00"))
    val runId = ing.upload(
      fixture("maple/maple_multi_sample_multi_rg.json"), "m.json", "maple", avg)
    (wh, runId)
  }

  "patchRun" should "replace runName and propagate to all children (M3)" in {
    val (wh, runId) = freshRun()
    val counts = RunsLifecycle.patchRun(wh, runId, avg,
      List(ReplaceOp("/labels/runName", "Renamed")))
    counts shouldBe ((1, 2, 3))
    wh.read(Warehouse.Runs).filter(col("runId") === runId)
      .select("labels.runName").collect()(0).getString(0) shouldBe "Renamed"
    wh.read(Warehouse.samples("maple")).select("labels.runName")
      .distinct().collect().map(_.getString(0)) shouldBe Array("Renamed")
    wh.read(Warehouse.readGroups("maple")).select("labels.runName")
      .distinct().collect().map(_.getString(0)) shouldBe Array("Renamed")
  }

  it should "route sampleLabels patches and propagate sampleName to its read groups" in {
    val (wh, runId) = freshRun()
    val sampleBId = wh.read(Warehouse.samples("maple"))
      .filter(col("labels.sampleName") === "sampleB")
      .select("_id").collect()(0).getString(0)
    val counts = RunsLifecycle.patchRun(wh, runId, avg,
      List(ReplaceOp(s"/sampleLabels/$sampleBId/sampleName", "renamedB")))
    counts shouldBe ((1, 1, 2)) // sampleB + its 2 read groups
    wh.read(Warehouse.samples("maple")).filter(col("_id") === sampleBId)
      .select("labels.sampleName").collect()(0).getString(0) shouldBe "renamedB"
    wh.read(Warehouse.readGroups("maple"))
      .filter(col("sampleId") === sampleBId)
      .select("labels.sampleName").distinct().collect()
      .map(_.getString(0)) shouldBe Array("renamedB")
  }

  it should "persist a patch to a unit owned by a DIFFERENT run (bucket scope bug)" in {
    // two runs in one warehouse: unit ops address units by _id table-wide
    // (reference semantics), so patching run A with an op targeting run
    // B's sample must rewrite run B's hash bucket — the regression was a
    // 200 response counting the unit as modified while only run A's
    // bucket was rewritten (63/64 chance the unit lived elsewhere)
    val (wh, runA) = freshRun()
    val ing = new RunIngestor(wh,
      Map("maple" -> MaplePipeline, "plain" -> PlainPipeline),
      () => Timestamp.valueOf("2024-06-02 12:00:00"))
    val runB = ing.upload(
      fixture("maple/maple_single_sample_single_rg.json"), "b.json", "maple", avg)
    runB should not be runA
    val bSampleId = wh.read(Warehouse.samples("maple"))
      .filter(col("runId") === runB).select("_id").collect()(0).getString(0)
    val counts = RunsLifecycle.patchRun(wh, runA, avg,
      List(ReplaceOp(s"/sampleLabels/$bSampleId/sampleName", "crossPatched")))
    counts._2 shouldBe 1
    wh.read(Warehouse.samples("maple")).filter(col("_id") === bSampleId)
      .select("labels.sampleName").collect()(0).getString(0) shouldBe "crossPatched"
  }

  it should "support tags add/replace/remove and notes, rejecting bad removes" in {
    val (wh, runId) = freshRun()
    RunsLifecycle.patchRun(wh, runId, avg, List(
      AddOp("/labels/tags/phase", "qc"),
      AddOp("/labels/tags/attempt", 2),
      AddOp("/labels/notes", "checked")))
    val labels = wh.read(Warehouse.Runs).filter(col("runId") === runId)
      .select("labels").collect()(0).getStruct(0)
    labels.getAs[Map[String, String]]("tags") shouldBe
      Map("phase" -> "qc", "attempt" -> "2")
    labels.getAs[String]("notes") shouldBe "checked"

    RunsLifecycle.patchRun(wh, runId, avg, List(RemoveOp("/labels/tags/phase")))
    wh.read(Warehouse.Runs).filter(col("runId") === runId)
      .select("labels.tags").collect()(0)
      .getAs[Map[String, String]](0) shouldBe Map("attempt" -> "2")

    a[PatchValidationException] should be thrownBy
      RunsLifecycle.patchRun(wh, runId, avg, List(RemoveOp("/labels/tags/nope")))
  }

  it should "reject non-whitelisted paths and wrong value types (422)" in {
    val (wh, runId) = freshRun()
    a[PatchValidationException] should be thrownBy
      RunsLifecycle.patchRun(wh, runId, avg, List(ReplaceOp("/uploaderId", "x")))
    a[PatchValidationException] should be thrownBy
      RunsLifecycle.patchRun(wh, runId, avg, List(ReplaceOp("/labels/runName", 42)))
    a[PatchValidationException] should be thrownBy
      RunsLifecycle.patchRun(wh, runId, avg,
        List(ReplaceOp("/sampleLabels/zzz/sampleName", "x")))
  }

  it should "enforce per-row authorization (403) but allow admins" in {
    val (wh, runId) = freshRun()
    a[RunsLifecycle.ForbiddenException] should be thrownBy
      RunsLifecycle.patchRun(wh, runId, avg2, List(ReplaceOp("/labels/runName", "x")))
    RunsLifecycle.patchRun(wh, runId, admin,
      List(ReplaceOp("/labels/runName", "byAdmin")))._1 shouldBe 1
  }

  "deleteRun" should "cascade-delete children, tombstone the run, and 410 on repeat (M5)" in {
    val (wh, runId) = freshRun()
    RunsLifecycle.deleteRun(wh, runId, avg)

    wh.read(Warehouse.Files).filter(col("runId") === runId).count() shouldBe 0
    wh.read(Warehouse.samples("maple")).count() shouldBe 0
    wh.read(Warehouse.readGroups("maple")).count() shouldBe 0
    // tombstoned, not removed
    val run = wh.read(Warehouse.Runs).filter(col("runId") === runId).collect()(0)
    run.getAs[Timestamp]("deletionTimeUtc") should not be null
    // excluded from listings and global stats
    RunsLifecycle.getRuns(wh, avg).count() shouldBe 0
    // second delete is distinguishable: 410, not 404
    a[RunsLifecycle.GoneException] should be thrownBy
      RunsLifecycle.deleteRun(wh, runId, avg)
    // point get also reports gone
    a[RunsLifecycle.GoneException] should be thrownBy
      RunsLifecycle.getRun(wh, runId, avg)
  }

  it should "refuse patches on deleted runs with 410" in {
    val (wh, runId) = freshRun()
    RunsLifecycle.deleteRun(wh, runId, avg)
    a[RunsLifecycle.GoneException] should be thrownBy
      RunsLifecycle.patchRun(wh, runId, avg, List(ReplaceOp("/labels/runName", "x")))
  }

  it should "apply mixed run-level and routed ops in one request" in {
    val (wh, runId) = freshRun()
    val sampleAId = wh.read(Warehouse.samples("maple"))
      .filter(col("labels.sampleName") === "sampleA")
      .select("_id").collect()(0).getString(0)
    val counts = RunsLifecycle.patchRun(wh, runId, avg, List(
      ReplaceOp("/labels/runName", "Mixed"),
      AddOp(s"/sampleLabels/$sampleAId/tags/batch", 7)))
    counts shouldBe ((1, 2, 3)) // runName propagates everywhere; tag on A
    wh.read(Warehouse.samples("maple")).filter(col("_id") === sampleAId)
      .select("labels.tags").collect()(0)
      .getAs[Map[String, String]](0) shouldBe Map("batch" -> "7")
    wh.read(Warehouse.readGroups("maple")).select("labels.runName")
      .distinct().collect().map(_.getString(0)) shouldBe Array("Mixed")
  }

  it should "handle pipelines without read groups (pref)" in {
    val root = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val wh = new Warehouse(spark, root)
    val ing = new RunIngestor(wh,
      Map("pref" -> graft.pipelines.PrefPipeline),
      () => Timestamp.valueOf("2024-06-01 12:00:00"))
    val runId = ing.upload(fixture("pref/pref_01.json"), "p.json", "pref", avg)
    // runName propagation with no readGroups table: (1, 2, 0)
    RunsLifecycle.patchRun(wh, runId, avg,
      List(ReplaceOp("/labels/runName", "P2"))) shouldBe ((1, 2, 0))
    // cascade delete without a readGroups table
    RunsLifecycle.deleteRun(wh, runId, avg)
    wh.read(Warehouse.samples("pref")).count() shouldBe 0
  }

  "getRun" should "enrich with child label maps when asked (J2)" in {
    val (wh, runId) = freshRun()
    val enriched = RunsLifecycle.getRun(wh, runId, avg, showUnitsLabels = true)
      .collect()(0)
    val sampleLabels = enriched.getAs[Map[String, org.apache.spark.sql.Row]]("sampleLabels")
    sampleLabels should have size 2
    sampleLabels.values.map(_.getAs[String]("sampleName")).toSet shouldBe
      Set("sampleA", "sampleB")
    enriched.getAs[Map[String, org.apache.spark.sql.Row]]("readGroupLabels") should have size 3
    // hidden attributes stay hidden (P4)
    enriched.schema.fieldNames should not contain "sampleIds"
  }

  "getRuns" should "scope visibility and sort by time desc (F10, O1)" in {
    val (wh, _) = freshRun()
    RunsLifecycle.getRuns(wh, avg).count() shouldBe 1
    RunsLifecycle.getRuns(wh, avg2).count() shouldBe 0
    RunsLifecycle.getRuns(wh, admin).count() shouldBe 1
    RunsLifecycle.getRuns(wh, avg, Seq("plain")).count() shouldBe 0
  }

  "getUnitsByIds" should "enforce the strict cardinality check (J1)" in {
    val (wh, _) = freshRun()
    val samples = wh.read(Warehouse.samples("maple"))
    val ids = samples.select("_id").collect().map(_.getString(0)).toSeq
    RunsLifecycle.getUnitsByIds(samples, ids) should have size 2
    a[RunsLifecycle.NotFoundException] should be thrownBy
      RunsLifecycle.getUnitsByIds(samples, ids :+ ("0" * 32))
  }

  // ---- reference it-suite permutations (PatchRunIdRunsControllerSpec /
  // DeleteRunIdRunsControllerSpec high-value cases) ------------------------

  private def freshTwoRuns(): (Warehouse, String, String) = {
    val root = Files.createTempDirectory("graft-wh").toString
    val wh = new Warehouse(spark, root)
    val ing = new RunIngestor(wh,
      Map("maple" -> MaplePipeline, "plain" -> PlainPipeline),
      () => Timestamp.valueOf("2024-06-01 12:00:00"))
    val runA = ing.upload(
      fixture("maple/maple_multi_sample_multi_rg.json"), "a.json", "maple", avg)
    val runB = ing.upload(
      fixture("maple/maple_single_sample_multi_rg.json"), "b.json", "maple", avg2)
    (wh, runA, runB)
  }

  "patchRun (permutations)" should "patch a read group directly via readGroupLabels" in {
    val (wh, runId) = freshRun()
    val rgId = wh.read(Warehouse.readGroups("maple"))
      .filter(col("labels.readGroupName") === "rg1" &&
        col("labels.sampleName") === "sampleB")
      .select("_id").collect()(0).getString(0)
    RunsLifecycle.patchRun(wh, runId, avg,
      List(ReplaceOp(s"/readGroupLabels/$rgId/readGroupName", "renamedRg"))) shouldBe
      ((1, 0, 1))
    wh.read(Warehouse.readGroups("maple")).filter(col("_id") === rgId)
      .select("labels.readGroupName").collect()(0).getString(0) shouldBe "renamedRg"
  }

  it should "not propagate run-level tag/notes ops to children" in {
    val (wh, runId) = freshRun()
    RunsLifecycle.patchRun(wh, runId, avg, List(
      AddOp("/labels/tags/phase", "qc"),
      AddOp("/labels/notes", "n"))) shouldBe ((1, 0, 0))
    wh.read(Warehouse.samples("maple"))
      .filter(org.apache.spark.sql.functions.size(col("labels.tags")) > 0)
      .count() shouldBe 0
  }

  it should "treat a repeated tag add as replace (idempotent), repeated remove as 422" in {
    val (wh, runId) = freshRun()
    RunsLifecycle.patchRun(wh, runId, avg, List(AddOp("/labels/tags/t", "v1")))
    // add again: overwrite, not duplicate, not error (reference: 'add' again → 200)
    RunsLifecycle.patchRun(wh, runId, avg, List(AddOp("/labels/tags/t", "v2")))
    wh.read(Warehouse.Runs).filter(col("runId") === runId)
      .select("labels.tags").collect()(0)
      .getAs[Map[String, String]](0) shouldBe Map("t" -> "v2")
    RunsLifecycle.patchRun(wh, runId, avg, List(RemoveOp("/labels/tags/t")))
    // remove again: 422 (reference: 'remove' again → 400-class, run unchanged)
    a[PatchValidationException] should be thrownBy
      RunsLifecycle.patchRun(wh, runId, avg, List(RemoveOp("/labels/tags/t")))
  }

  it should "apply sequential ops on the same path in order (last wins)" in {
    val (wh, runId) = freshRun()
    RunsLifecycle.patchRun(wh, runId, avg, List(
      ReplaceOp("/labels/runName", "first"),
      ReplaceOp("/labels/runName", "second"))) shouldBe ((1, 2, 3))
    wh.read(Warehouse.Runs).filter(col("runId") === runId)
      .select("labels.runName").collect()(0).getString(0) shouldBe "second"
  }

  it should "reject the WHOLE batch when any op is invalid — nothing written" in {
    val (wh, runId) = freshRun()
    val sampleAId = wh.read(Warehouse.samples("maple"))
      .filter(col("labels.sampleName") === "sampleA")
      .select("_id").collect()(0).getString(0)
    a[PatchValidationException] should be thrownBy
      RunsLifecycle.patchRun(wh, runId, avg, List(
        AddOp(s"/sampleLabels/$sampleAId/tags/ok", "yes"), // valid
        ReplaceOp("/uploaderId", "evil"))) // invalid ⇒ 422 for the batch
    // the valid op must NOT have been applied (reference: 'when the run is
    // queried afterwards' → unchanged)
    wh.read(Warehouse.samples("maple")).filter(col("_id") === sampleAId)
      .select("labels.tags").collect()(0)
      .getAs[Map[String, String]](0) shouldBe Map.empty
  }

  it should "count mixed batches across all three levels correctly" in {
    val (wh, runId) = freshRun()
    val samples = wh.read(Warehouse.samples("maple"))
    val sampleAId = samples.filter(col("labels.sampleName") === "sampleA")
      .select("_id").collect()(0).getString(0)
    val rgId = wh.read(Warehouse.readGroups("maple"))
      .filter(col("labels.sampleName") === "sampleB" &&
        col("labels.readGroupName") === "rg2")
      .select("_id").collect()(0).getString(0)
    // runName → run + all children; plus direct tag ops at each level
    RunsLifecycle.patchRun(wh, runId, avg, List(
      ReplaceOp("/labels/runName", "R2"),
      AddOp(s"/sampleLabels/$sampleAId/tags/sTag", 1),
      AddOp(s"/readGroupLabels/$rgId/tags/rTag", 2))) shouldBe ((1, 2, 3))
    wh.read(Warehouse.samples("maple")).filter(col("_id") === sampleAId)
      .select("labels.tags").collect()(0)
      .getAs[Map[String, String]](0) shouldBe Map("sTag" -> "1")
    wh.read(Warehouse.readGroups("maple")).filter(col("_id") === rgId)
      .select("labels.runName", "labels.tags").collect()(0) match {
      case r =>
        r.getString(0) shouldBe "R2"
        r.getAs[Map[String, String]](1) shouldBe Map("rTag" -> "2")
    }
  }

  it should "leave other runs' children untouched (multi-run isolation)" in {
    val (wh, runA, runB) = freshTwoRuns()
    RunsLifecycle.patchRun(wh, runA, avg,
      List(ReplaceOp("/labels/runName", "patchedA"))) shouldBe ((1, 2, 3))
    // run B (different uploader, same pipeline tables) is untouched
    wh.read(Warehouse.samples("maple")).filter(col("runId") === runB)
      .select("labels.runName").distinct().collect()
      .map(_.getString(0)) shouldBe Array("Maple_02")
    wh.read(Warehouse.Runs).filter(col("runId") === runB)
      .select("labels.runName").collect()(0).getString(0) shouldBe "Maple_02"
  }

  "deleteRun (permutations)" should "refuse a non-owner delete with 403, run intact" in {
    val (wh, runA, _) = freshTwoRuns()
    a[RunsLifecycle.ForbiddenException] should be thrownBy
      RunsLifecycle.deleteRun(wh, runA, avg2)
    wh.read(Warehouse.Runs).filter(col("runId") === runA)
      .collect()(0).getAs[Timestamp]("deletionTimeUtc") shouldBe null
  }

  it should "let an admin delete another user's run; the owner then sees 410" in {
    val (wh, runA, _) = freshTwoRuns()
    RunsLifecycle.deleteRun(wh, runA, admin)
    a[RunsLifecycle.GoneException] should be thrownBy
      RunsLifecycle.getRun(wh, runA, avg)
  }

  it should "cascade only the deleted run; other users' data and listings survive" in {
    val (wh, runA, runB) = freshTwoRuns()
    RunsLifecycle.deleteRun(wh, runA, avg)
    // A's children gone, B's intact (same pipeline tables)
    wh.read(Warehouse.samples("maple")).filter(col("runId") === runA).count() shouldBe 0
    wh.read(Warehouse.samples("maple")).filter(col("runId") === runB).count() shouldBe 1
    wh.read(Warehouse.readGroups("maple")).filter(col("runId") === runB).count() shouldBe 2
    // visibility: owner of A sees nothing, owner of B unaffected, admin sees B only
    RunsLifecycle.getRuns(wh, avg).count() shouldBe 0
    RunsLifecycle.getRuns(wh, avg2).count() shouldBe 1
    RunsLifecycle.getRuns(wh, admin).count() shouldBe 1
    // B's raw file still downloads; A's reports gone
    RunsLifecycle.getRunFile(wh, runB, avg2) should not be empty
    a[RunsLifecycle.GoneException] should be thrownBy
      RunsLifecycle.getRunFile(wh, runA, avg)
    // global stats see only B: 1 run, 1 sample, 2 read groups
    graft.stats.StatsProcessor.globalRunStats(wh.read(Warehouse.Runs)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))) shouldBe
      Array(("maple", 1L, 1L, 2L))
  }

  "JsonPatch.parse" should "parse arrays and auto-wrap single ops, rejecting junk" in {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    JsonPatch.parse(m.readTree(
      """[{"op":"replace","path":"/labels/runName","value":"x"}]""")) should have size 1
    JsonPatch.parse(m.readTree(
      """{"op":"remove","path":"/labels/notes"}""")) should have size 1
    a[PatchParseException] should be thrownBy
      JsonPatch.parse(m.readTree("""{"op":"frobnicate","path":"/x"}"""))
    a[PatchParseException] should be thrownBy
      JsonPatch.parse(m.readTree("""{"op":"add","path":"no-slash","value":1}"""))
    a[PatchParseException] should be thrownBy JsonPatch.parse(m.readTree("[]"))
  }

  "job-count guards" should "bound a propagating patch and a delete" in {
    val (wh, runId) = freshRun()
    val (counts, patchJobs) = jobsIn(RunsLifecycle.patchRun(wh, runId, avg,
      List(ReplaceOp("/labels/runName", "Guarded"))))
    counts shouldBe ((1, 2, 3))
    val (_, deleteJobs) = jobsIn(RunsLifecycle.deleteRun(wh, runId, avg))
    wh.read(Warehouse.samples("maple")).count() shouldBe 0
    patchJobs should be <= 9  // 15 before driver-side snapshots
    deleteJobs should be <= 8 // 13 before
  }
}
