package graft.lifecycle

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.{Ingest, RunIngestor}
import graft.lifecycle.JsonPatch._
import graft.model.Records.User
import graft.pipelines.{PannPipeline, PrefPipeline}
import graft.store.{Dictionaries, Warehouse}

class DictionariesAndUsersSpec extends SparkSpec {

  private val avg = User("avg", "avg@test.id")
  private val admin = User("admin", "admin@test.id", isAdmin = true)

  private def fixture(path: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource(s"/fixtures/$path").toURI))

  private def fresh(): (Warehouse, RunIngestor) = {
    val root = Files.createTempDirectory("graft-wh").toString
    val wh = new Warehouse(spark, root)
    (wh, new RunIngestor(wh,
      Map("pref" -> PrefPipeline, "pann" -> PannPipeline),
      () => Timestamp.valueOf("2024-06-01 12:00:00")))
  }

  "combinedMd5" should "digest the alphabetically sorted contig md5s (C2)" in {
    val contigs = Seq(
      Dictionaries.Contig("chr2", 2000, "md52"),
      Dictionaries.Contig("chr1", 1000, "md51"))
    // sorted concat = "md51md52" regardless of contig order
    Dictionaries.combinedMd5(contigs) shouldBe Ingest.md5Hex("md51md52")
    Dictionaries.combinedMd5(contigs.reverse) shouldBe Ingest.md5Hex("md51md52")
  }

  "PrefPipeline" should "get-or-create references by checksum across uploads (S8)" in {
    val (wh, ing) = fresh()
    ing.upload(fixture("pref/pref_01.json"), "p1.json", "pref", avg)
    ing.upload(fixture("pref/pref_02.json"), "p2.json", "pref", avg)
    ing.upload(fixture("pref/pref_03.json"), "p3.json", "pref", avg)

    // pref_02 and pref_03 share a reference → only 2 dictionary rows
    val refs = wh.read(Warehouse.References)
    refs.count() shouldBe 2

    // every sample row carries its run's refId (2 + 1 + 1 samples)
    val samples = wh.read(Warehouse.samples("pref"))
    samples.count() shouldBe 4
    val refIds = refs.select("refId").collect().map(_.getString(0)).toSet
    samples.select("refId").collect().map(_.getString(0)).toSet shouldBe refIds

    // run label tags carry the refId too
    val runTags = wh.read(Warehouse.Runs).select("labels.tags").collect()
      .map(_.getAs[Map[String, String]](0))
    runTags.foreach(t => refIds should contain(t("refId")))
  }

  "PannPipeline" should "dedup annotations by annotMd5 (S8) and attach annotIds" in {
    val (wh, ing) = fresh()
    ing.upload(fixture("pann/pann_01.json"), "a1.json", "pann", avg)
    ing.upload(fixture("pann/pann_02.json"), "a2.json", "pann", avg)

    // bed annotation is shared; vcf1/vcf2 differ → 3 rows
    val annots = wh.read(Warehouse.Annotations)
    annots.count() shouldBe 3
    annots.filter(col("annotMd5") === "md5bed").count() shouldBe 1
    // extension derivation (C7)
    annots.filter(col("annotMd5") === "md5bed")
      .select("extension").collect()(0).getString(0) shouldBe "bed"

    val samples = wh.read(Warehouse.samples("pann"))
    samples.count() shouldBe 4
    samples.select(explode(col("annotIds"))).distinct().count() shouldBe 3
  }

  it should "list dictionaries time-desc with maxReturn (O4)" in {
    val (wh, ing) = fresh()
    ing.upload(fixture("pann/pann_01.json"), "a1.json", "pann", avg)
    ing.upload(fixture("pann/pann_02.json"), "a2.json", "pann", avg)
    Dictionaries.listAnnotations(wh).count() shouldBe 3
    Dictionaries.listAnnotations(wh, Some(2)).count() shouldBe 2
  }

  "UsersOps" should "insert with validation, 409 on duplicate id (S10)" in {
    val (wh, _) = fresh()
    UsersOps.addUser(wh, "alice", "alice@test.id", "Passw0rd", "Passw0rd")
    UsersOps.userExists(wh, "alice") shouldBe true
    UsersOps.getUser(wh, "alice").get.email shouldBe "alice@test.id"

    an[UsersOps.ConflictException] should be thrownBy
      UsersOps.addUser(wh, "alice", "other@test.id", "Passw0rd", "Passw0rd")

    val e = the[UsersOps.ValidationException] thrownBy
      UsersOps.addUser(wh, "x", "bad-email", "short", "different")
    e.errors.size should be >= 3
  }

  it should "hash and verify passwords (C9, bcrypt $2a$ like the reference)" in {
    val h = UsersOps.hashPassword("Passw0rd")
    h should startWith("$2a$")
    UsersOps.verifyPassword("Passw0rd", h) shouldBe true
    UsersOps.verifyPassword("wrong", h) shouldBe false
    // salted: same password, different hash
    UsersOps.hashPassword("Passw0rd") should not be h
    // r1-r4 interim pbkdf2 hashes still verify (legacy acceptance)
    val legacySalt = "0123456789abcdef"
    UsersOps.verifyPassword("Passw0rd",
      s"pbkdf2$$$legacySalt$$${UsersOps.pbkdf2("Passw0rd", legacySalt)}") shouldBe true
  }

  it should "patch /verified admin-only, /email and /password with validation" in {
    val (wh, _) = fresh()
    UsersOps.addUser(wh, "bob", "bob@test.id", "Passw0rd", "Passw0rd")
    val bob = User("bob", "bob@test.id")

    a[RunsLifecycle.ForbiddenException] should be thrownBy
      UsersOps.patchUser(wh, bob, "bob", List(ReplaceOp("/verified", true)))
    UsersOps.patchUser(wh, admin, "bob", List(ReplaceOp("/verified", true)))
    wh.read(Warehouse.Users).filter(col("id") === "bob")
      .select("verified").collect()(0).getBoolean(0) shouldBe true

    UsersOps.patchUser(wh, bob, "bob", List(ReplaceOp("/email", "new@test.id")))
    wh.read(Warehouse.Users).filter(col("id") === "bob")
      .select("email").collect()(0).getString(0) shouldBe "new@test.id"

    a[PatchValidationException] should be thrownBy
      UsersOps.patchUser(wh, bob, "bob", List(ReplaceOp("/email", "nope")))
    a[PatchValidationException] should be thrownBy
      UsersOps.patchUser(wh, bob, "bob", List(ReplaceOp("/isAdmin", true)))

    UsersOps.patchUser(wh, bob, "bob", List(ReplaceOp("/password", "N3wPassword")))
    val stored = wh.read(Warehouse.Users).filter(col("id") === "bob")
      .select("hashedPassword").collect()(0).getString(0)
    UsersOps.verifyPassword("N3wPassword", stored) shouldBe true
  }

  it should "delete users (M6) with authorization" in {
    val (wh, _) = fresh()
    UsersOps.addUser(wh, "carol", "carol@test.id", "Passw0rd", "Passw0rd")
    a[RunsLifecycle.ForbiddenException] should be thrownBy
      UsersOps.deleteUser(wh, User("mallory", "m@test.id"), "carol")
    UsersOps.deleteUser(wh, admin, "carol")
    UsersOps.userExists(wh, "carol") shouldBe false
    a[RunsLifecycle.NotFoundException] should be thrownBy
      UsersOps.deleteUser(wh, admin, "carol")
  }

  it should "authenticate by API key" in {
    val (wh, _) = fresh()
    UsersOps.addUser(wh, "dave", "dave@test.id", "Passw0rd", "Passw0rd")
    val key = wh.read(Warehouse.Users).filter(col("id") === "dave")
      .select("activeKey").collect()(0).getString(0)
    UsersOps.authenticateByKey(wh, "dave", key).map(_.id) shouldBe Some("dave")
    UsersOps.authenticateByKey(wh, "dave", "bad") shouldBe None
  }

  it should "authenticate by API key in one Spark job (two before driver-side snapshots)" in {
    val (wh, _) = fresh()
    UsersOps.addUser(wh, "erin", "erin@test.id", "Passw0rd", "Passw0rd")
    val key = wh.read(Warehouse.Users).filter(col("id") === "erin")
      .select("activeKey").collect()(0).getString(0)
    val (user, jobs) = jobsIn(UsersOps.authenticateByKey(wh, "erin", key))
    user.map(_.id) shouldBe Some("erin")
    jobs should be <= 1
  }
}
