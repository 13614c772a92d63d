package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** One generated unit (a sample or a read group) and the stats the
  * answer key expects the service to return for it. */
final case class UnitKey(id: String, stats: Map[String, Long])

/** One generated run summary with everything the answer key derives from
  * it: the ids the service must assign, the units its shred must produce,
  * and the dictionary ids a single upload must attach. */
final case class RunKey(
    pipeline: String,
    owner: String,
    fileName: String,
    bytes: Array[Byte],
    runId: String,
    runName: String,
    samples: Vector[UnitKey],
    readGroups: Vector[UnitKey],
    refId: Option[String],
    annotIds: Seq[String])

/** Seeded generator of run summaries in the shapes of the four built-in
  * pipelines (the `fixtures/{maple,pref,pann,plain}` documents), with
  * varied sample and read-group counts and distinct md5s.
  *
  * Ids are derived here independently of the program, so the answer key
  * does not trust the code it checks. The program joins id parts with a
  * NUL on the single-upload path (runId = md5("<md5 of bytes>\0<uploader>"),
  * dictionary ids = md5("ref|annot\0<key md5>")) and with a space on the
  * bulk path (runId = md5("<md5 of bytes> <uploader>")); unit ids are
  * md5("<runId> <sample>[ <readGroup>]") on both. */
object Gen {
  val StatsPipelines: Seq[String] = Seq("maple", "pref", "pann")
  val AllPipelines: Seq[String] = Seq("maple", "pref", "pann", "plain")

  /** Numeric stats fields per (pipeline, unit level). */
  def metricsOf(pipeline: String, readGroupLevel: Boolean): Seq[String] =
    (pipeline, readGroupLevel) match {
      case ("maple", false) => Seq("nSnps")
      case ("maple", true)  => Seq("nReadsInput", "nReadsAligned")
      case (_, false)       => Seq("num")
      case _                => Seq.empty
    }

  private val mapper = new ObjectMapper()

  def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map(b => f"${b & 0xff}%02x").mkString
  def md5Hex(s: String): String = md5Hex(s.getBytes(StandardCharsets.UTF_8))

  /** A small pool of references and annotations, so single uploads share
    * dictionary entries (the get-or-create path) instead of always
    * creating them. */
  private def contigs(ref: Int): Seq[(String, Long, String)] =
    (1 to 2 + ref).map(c => (s"chr$c", 1000L * c + ref, md5Hex(s"ref$ref-chr$c")))
  def refIdOf(ref: Int): String =
    md5Hex("ref\u0000" + md5Hex(contigs(ref).map(_._3).sorted.mkString("")))
  private def annotMd5(a: Int): String = md5Hex(s"annotation-$a")
  def annotIdOf(a: Int): String = md5Hex("annot\u0000" + annotMd5(a))
  val RefPool = 3
  val AnnotPool = 4

  /** One run summary. `tag` makes the document (and so its md5) unique;
    * `single` says whether it will go through the single-upload path,
    * which is the only one that fills the dictionary ids. */
  def run(rnd: Random, pipeline: String, tag: String, owner: String,
      single: Boolean): RunKey = {
    val doc = mapper.createObjectNode()
    val runName = s"$pipeline-$tag"
    doc.put("runName", runName)
    var samples = Vector.empty[(String, Map[String, Long])]
    var readGroups = Vector.empty[(String, String, Map[String, Long])]
    var refId: Option[String] = None
    var annotIds = Seq.empty[String]
    pipeline match {
      case "maple" =>
        val ss = doc.putObject("samples")
        (1 to 1 + rnd.nextInt(3)).foreach { si =>
          val sName = s"sample$si"
          val s = ss.putObject(sName)
          val nSnps = 100L + rnd.nextInt(900)
          s.put("nSnps", nSnps)
          samples :+= sName -> Map("nSnps" -> nSnps)
          val rgs = s.putObject("readGroups")
          (1 to 1 + rnd.nextInt(3)).foreach { gi =>
            val input = 10000L + rnd.nextInt(90000)
            val aligned = input - rnd.nextInt(10000)
            val g = rgs.putObject(s"rg$gi")
            g.put("nReadsInput", input)
            g.put("nReadsAligned", aligned)
            readGroups :+= ((sName, s"rg$gi",
              Map("nReadsInput" -> input, "nReadsAligned" -> aligned)))
          }
        }
      case "pref" | "pann" =>
        if (pipeline == "pref") {
          val ref = rnd.nextInt(RefPool)
          val r = doc.putObject("reference")
          r.put("name", s"reference$ref")
          val cs = r.putObject("contigs")
          contigs(ref).foreach { case (name, len, md5) =>
            val c = cs.putObject(name)
            c.put("length", len)
            c.put("md5", md5)
          }
          if (single) refId = Some(refIdOf(ref))
        } else {
          val chosen = rnd.shuffle((0 until AnnotPool).toList).take(1 + rnd.nextInt(2)).sorted
          val as = doc.putObject("annotations")
          chosen.foreach { a =>
            val n = as.putObject(s"annot$a")
            n.put("md5", annotMd5(a))
            n.put("path", s"/annotations/annot$a.bed")
          }
          if (single) annotIds = chosen.map(annotIdOf)
        }
        val ss = doc.putObject("samples")
        (1 to 1 + rnd.nextInt(3)).foreach { si =>
          val num = 1L + rnd.nextInt(1000)
          ss.putObject(s"sample$si").put("num", num)
          samples :+= s"sample$si" -> Map("num" -> num)
        }
      case "plain" =>
        doc.put("value", rnd.nextInt(1000000))
        val arr = doc.putArray("items")
        (1 to 1 + rnd.nextInt(4)).foreach(_ => arr.add(rnd.nextInt(1000)))
    }
    val bytes = mapper.writeValueAsBytes(doc)
    val runId = md5Hex(md5Hex(bytes) + (if (single) "\u0000" else " ") + owner)
    RunKey(pipeline, owner, s"$runName.json", bytes, runId, runName,
      samples.map { case (s, st) => UnitKey(md5Hex(s"$runId $s"), st) },
      readGroups.map { case (s, g, st) => UnitKey(md5Hex(s"$runId $s $g"), st) },
      refId, annotIds)
  }

  def parse(bytes: Array[Byte]): ObjectNode =
    mapper.readTree(bytes).asInstanceOf[ObjectNode]
}

/** The answer key: the service's state as the acknowledged operations
  * define it. Reads are checked against it; acknowledged writes update it. */
final class Model {
  private val runs = scala.collection.mutable.LinkedHashMap.empty[String, RunKey]
  private val names = scala.collection.mutable.Map.empty[String, String]
  private val deleted = scala.collection.mutable.LinkedHashSet.empty[String]

  def add(r: RunKey): Unit = synchronized { runs(r.runId) = r }
  def copy(): Model = synchronized {
    val m = new Model
    m.runs ++= runs
    m.names ++= names
    m.deleted ++= deleted
    m
  }
  def rename(runId: String, name: String): Unit = synchronized { names(runId) = name }
  def delete(runId: String): Unit = synchronized { deleted += runId }

  def live: Seq[RunKey] = synchronized(runs.values.filterNot(r => deleted(r.runId)).toSeq)
  def deletedIds: Seq[String] = synchronized(deleted.toSeq)
  def nameOf(runId: String): String = synchronized(names.getOrElse(runId, runs(runId).runName))
  def get(runId: String): Option[RunKey] = synchronized(runs.get(runId))

  def rollup: Map[String, (Long, Long, Long)] = live.groupBy(_.pipeline).map { case (p, rs) =>
    p -> ((rs.size.toLong, rs.map(_.samples.size.toLong).sum, rs.map(_.readGroups.size.toLong).sum))
  }

  def refIds: Set[String] = synchronized(runs.values.flatMap(_.refId).toSet)
  def annotIds: Set[String] = synchronized(runs.values.flatMap(_.annotIds).toSet)

  /** The units a stats/aggregate selector conjunction matches. Maple read
    * groups are paired by definition, so `single` matches none of them. */
  def units(s: Selection): Seq[UnitKey] = {
    val rs = live.filter(r => r.pipeline == s.pipeline &&
      (s.runIds.isEmpty || s.runIds.contains(r.runId)) &&
      (s.refs.isEmpty || r.refId.exists(s.refs.contains)) &&
      (s.annots.isEmpty || r.annotIds.exists(s.annots.contains)))
    val us = rs.flatMap(r => if (s.readGroupLevel) r.readGroups else r.samples)
    if (s.libType.contains("single")) Seq.empty else us
  }
}

/** The selector part shared by the stats and aggregate endpoints. */
final case class Selection(
    pipeline: String,
    readGroupLevel: Boolean,
    libType: Option[String],
    runIds: Seq[String],
    refs: Seq[String],
    annots: Seq[String]) {

  def query: Seq[(String, String)] =
    Seq("accLevel" -> (if (readGroupLevel) "readGroup" else "sample")) ++
      libType.map("libType" -> _) ++
      Seq("runIds" -> runIds, "references" -> refs, "annotations" -> annots)
        .collect { case (k, v) if v.nonEmpty => k -> v.mkString(",") }
}
