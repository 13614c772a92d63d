package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col

import graft.Sentinel
import graft.functions.Scalars
import graft.http.HttpShim
import graft.lifecycle.{JsonPatch, UsersOps}
import graft.model.Records
import graft.render.ApiRender
import graft.stats.StatsParams

/** A verified user the benchmark acts as, with its API key. */
final case class Client(id: String, key: String, user: Records.User)

/** One request of a workload's traffic mix. `cls` is the latency class it
  * is reported under. */
sealed trait Op { def cls: String }
final case class StatsReq(sel: Selection, timeSorted: Boolean, nLimit: Option[Int]) extends Op {
  def cls = "stats"
}
final case class AggReq(sel: Selection, metrics: Seq[String]) extends Op { def cls = "aggregate" }
final case class ListRuns(pipelines: Seq[String]) extends Op { def cls = "browse" }
final case class GetRun(runId: String) extends Op { def cls = "browse" }
case object Rollup extends Op { def cls = "browse" }
final case class Dict(kind: String) extends Op { def cls = "browse" }
final case class Upload(run: RunKey, multipart: Boolean) extends Op { def cls = "upload" }
final case class Repost(run: RunKey) extends Op { def cls = "duplicate" }
final case class Patch(runId: String, name: String) extends Op { def cls = "patch" }
final case class Delete(runId: String) extends Op { def cls = "delete" }

object Ops {
  private val mapper = new ObjectMapper()

  def patchBody(name: String): Array[Byte] = {
    val arr = mapper.createArrayNode()
    arr.addObject().put("op", "replace").put("path", "/labels/runName").put("value", name)
    mapper.writeValueAsBytes(arr)
  }

  private def parse(body: String): JsonNode =
    try mapper.readTree(body) catch { case _: Exception => mapper.nullNode() }

  private def rows(body: String): Seq[JsonNode] = {
    val n = parse(body)
    if (n.isArray) n.elements().asScala.toSeq else Seq.empty
  }

  private def long(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).filter(_.isIntegralNumber).map(_.asLong)

  /** Whether `(status, body)` is the right answer to `op` issued by `c`
    * against the state `model` describes. */
  def check(op: Op, c: Client, model: Model, status: Int, body: String): Boolean =
    op match {
      case StatsReq(sel, _, nLimit) =>
        val got = rows(body)
        val ids = got.flatMap(r => Option(r.get("_id")).map(_.asText))
        def statsOk(r: JsonNode, want: Option[Map[String, Long]]) = want.exists(st =>
          st.forall { case (m, v) => long(r.path("stats"), m).contains(v) })
        val shapeOk = status == 200 && ids.size == got.size && ids.distinct.size == ids.size
        val want = model.units(sel).map(u => u.id -> u.stats).toMap
        shapeOk && ids.size == nLimit.fold(want.size)(_.min(want.size)) &&
          got.forall(r => statsOk(r, want.get(r.get("_id").asText)))
      case AggReq(sel, metrics) =>
        val units = model.units(sel)
        rows(body) match {
          case Seq(r) if status == 200 =>
            metrics.forall { m =>
              val vs = units.flatMap(_.stats.get(m))
              long(r, s"${m}_n").contains(vs.size.toLong) && (
                if (vs.isEmpty) long(r, s"${m}_sum").isEmpty
                else long(r, s"${m}_sum").contains(vs.sum) &&
                  long(r, s"${m}_min").contains(vs.min) &&
                  long(r, s"${m}_max").contains(vs.max))
            }
          case _ => false
        }
      case ListRuns(ps) =>
        val want = model.live.filter(r => r.owner == c.id && (ps.isEmpty || ps.contains(r.pipeline)))
          .map(_.runId).toSet
        val got = rows(body).map(_.path("runId").asText)
        status == 200 && got.size == want.size && got.toSet == want
      case GetRun(id) =>
        rows(body) match {
          case Seq(r) => status == 200 && r.path("runId").asText == id &&
            r.path("labels").path("runName").asText == model.nameOf(id)
          case _ => false
        }
      case Rollup =>
        val got = rows(body).map(r => r.path("pipeline").asText ->
          ((r.path("nRuns").asLong, r.path("nSamples").asLong, r.path("nReadGroups").asLong))).toMap
        status == 200 && got == model.rollup
      case Dict(kind) =>
        val want = if (kind == "references") model.refIds.size else model.annotIds.size
        status == 200 && rows(body).size == want
      case Upload(run, _) =>
        status == 201 && parse(body).path("runId").asText == run.runId
      case Repost(run) =>
        status == 409 && parse(body).path("existingRunId").asText == run.runId
      case Patch(id, _) =>
        model.get(id).exists { r =>
          val n = parse(body)
          status == 200 && n.path("runsModified").asInt == 1 &&
            n.path("samplesModified").asInt == r.samples.size &&
            n.path("readGroupsModified").asInt == r.readGroups.size
        }
      case Delete(_) => status == 204
    }

  /** Record an acknowledged write in the answer key. */
  def commit(op: Op, model: Model): Unit = op match {
    case Upload(run, _) => model.add(run)
    case Patch(id, n)   => model.rename(id, n)
    case Delete(id)     => model.delete(id)
    case _              => ()
  }
}

/** Issues ops over a socket to a running [[HttpShim]], as a client would. */
final class HttpSender(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  private def enc(s: String) = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

  def send(op: Op, c: Client): (Int, String) = {
    val keyed = Seq("userId" -> c.id)
    val (method, path, q, body, ctype) = op match {
      case StatsReq(sel, ts, n) =>
        ("GET", s"/stats/${sel.pipeline}",
          sel.query ++ (if (ts) Seq("timeSorted" -> "true") else Nil) ++
            n.map(v => "nLimit" -> v.toString), Array.emptyByteArray, None)
      case AggReq(sel, ms) =>
        ("GET", s"/stats/${sel.pipeline}/aggregate", sel.query :+ ("metrics" -> ms.mkString(",")),
          Array.emptyByteArray, None)
      case ListRuns(ps) =>
        ("GET", "/runs", keyed ++ (if (ps.isEmpty) Nil else Seq("pipelines" -> ps.mkString(","))),
          Array.emptyByteArray, None)
      case GetRun(id) => ("GET", s"/runs/$id", keyed, Array.emptyByteArray, None)
      case Rollup     => ("GET", "/stats/runs", Nil, Array.emptyByteArray, None)
      case Dict(kind) => ("GET", s"/$kind", Nil, Array.emptyByteArray, None)
      case Upload(run, true) =>
        val boundary = s"----perfbench${run.runId.take(16)}"
        ("POST", "/runs", keyed :+ ("pipeline" -> run.pipeline),
          multipart(boundary, run.fileName, run.bytes),
          Some(s"multipart/form-data; boundary=$boundary"))
      case Upload(run, false) =>
        ("POST", "/runs", keyed ++ Seq("pipeline" -> run.pipeline, "fileName" -> run.fileName),
          run.bytes, None)
      case Repost(run) =>
        ("POST", "/runs", keyed ++ Seq("pipeline" -> run.pipeline, "fileName" -> run.fileName),
          run.bytes, None)
      case Patch(id, name) => ("PATCH", s"/runs/$id", keyed, Ops.patchBody(name), None)
      case Delete(id)      => ("DELETE", s"/runs/$id", keyed, Array.emptyByteArray, None)
    }
    val qs = if (q.isEmpty) "" else q.map { case (k, v) => s"$k=${enc(v)}" }.mkString("?", "&", "")
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path$qs"))
      .timeout(Duration.ofSeconds(120))
      .method(method, HttpRequest.BodyPublishers.ofByteArray(body))
    if (q.exists(_._1 == "userId")) b.header("X-Sentinel-Key", c.key)
    ctype.foreach(b.header("Content-Type", _))
    val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  private def multipart(boundary: String, fileName: String, bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write((s"--$boundary\r\nContent-Disposition: form-data; " +
      s"""name="run"; filename="$fileName"\r\n""" +
      "Content-Type: application/json\r\n\r\n").getBytes(StandardCharsets.UTF_8))
    out.write(bytes)
    out.write(s"\r\n--$boundary--\r\n".getBytes(StandardCharsets.UTF_8))
    out.toByteArray
  }
}

/** Issues ops in-process through the public calls `HttpShim` makes for
  * the same route, each wrapped in a span named after the module it
  * enters. Wire parsing and framing are left out: they are the HTTP
  * layer, whose cost is the socket time minus this call's time. */
final class InProcess(sentinel: Sentinel, tr: Tracer) {
  private val shim = new HttpShim(sentinel) // status taxonomy only; never started
  private val mapper = new ObjectMapper()

  private def auth(c: Client): Records.User =
    tr.span("lifecycle.auth")(UsersOps.authenticateByKey(sentinel.warehouse, c.id, c.key))
      .getOrElse(throw new IllegalStateException(s"key of ${c.id} rejected"))

  private def params(sel: Selection, ts: Boolean, n: Option[Int]) = StatsParams(
    accLevel = if (sel.readGroupLevel) Scalars.AccLevel.ReadGroup else Scalars.AccLevel.Sample,
    libType = sel.libType.map(Scalars.parseLibType),
    runIds = sel.runIds, references = sel.refs, annotations = sel.annots,
    timeSorted = ts, nLimit = n)

  private def render(df: org.apache.spark.sql.DataFrame, showBlanks: Boolean): String =
    tr.span("render")(ApiRender.renderRows(df, showBlanks))

  def run(op: Op, c: Client): (Int, String) =
    try op match {
      case StatsReq(sel, ts, n) =>
        val p = params(sel, ts, n)
        val units = tr.span("store.read")(sentinel.unitsOf(sel.pipeline, p.accLevel))
        val df = tr.span("stats.build")(sentinel.getStats(units, p.selectors,
          Seq(col("_id"), col("runId"), col("creationTimeUtc"), col("stats")),
          p.sortOrRandom, p.nLimit))
        (200, render(df, showBlanks = false))
      case AggReq(sel, ms) =>
        val p = params(sel, ts = false, None)
        val units = tr.span("store.read")(sentinel.unitsOf(sel.pipeline, p.accLevel))
        val df = tr.span("stats.build")(sentinel.getAggregateStats(units, p.selectors,
          ms.map(m => m -> col(s"stats.$m"))))
        (200, render(df, showBlanks = true))
      case ListRuns(ps) =>
        val u = auth(c)
        (200, render(tr.span("lifecycle.runs")(sentinel.getRuns(u, ps)), showBlanks = false))
      case GetRun(id) =>
        val u = auth(c)
        (200, render(tr.span("lifecycle.runs")(sentinel.getRun(id, u)), showBlanks = false))
      case Rollup =>
        (200, render(tr.span("stats.build")(sentinel.globalRunStats()), showBlanks = true))
      case Dict(kind) =>
        val df = tr.span("store.dict")(
          if (kind == "references") sentinel.listReferences() else sentinel.listAnnotations())
        (200, render(df, showBlanks = false))
      case Upload(run, _) =>
        val u = auth(c)
        val id = tr.span("ingest.upload")(sentinel.upload(run.bytes, run.fileName, run.pipeline, u))
        (201, mapper.createObjectNode().put("runId", id).toString)
      case Repost(run) =>
        val u = auth(c)
        tr.span("ingest.dup_reject")(sentinel.upload(run.bytes, run.fileName, run.pipeline, u))
        (201, "{}")
      case Patch(id, name) =>
        val u = auth(c)
        val ops = JsonPatch.parse(mapper.readTree(Ops.patchBody(name)))
        val (r, s, g) = tr.span("lifecycle.patch")(sentinel.patchRun(id, u, ops))
        val n = mapper.createObjectNode()
        n.put("runsModified", r).put("samplesModified", s).put("readGroupsModified", g)
        (200, n.toString)
      case Delete(id) =>
        val u = auth(c)
        tr.span("lifecycle.delete")(sentinel.deleteRun(id, u))
        (204, "")
    } catch {
      case e: graft.ingest.Ingest.DuplicateFileException =>
        (409, mapper.createObjectNode().put("existingRunId", e.existingRunId).toString)
      case e: Exception => (shim.statusOf(e), String.valueOf(e.getMessage))
    }
}
