package perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.pipelines.{PipelinePlugin, Shredded}

/** A pipeline plugin that forwards to a built-in one and times its
  * schema validation as the `pipelines.validate` span. `Sentinel` lets a
  * deployment register plugins under built-in names; this uses that. */
final class TracedPlugin(p: PipelinePlugin, tr: Tracer) extends PipelinePlugin {
  def name: String = p.name
  def schema = p.schema
  override def validate(json: JsonNode): Seq[String] = tr.span("pipelines.validate")(p.validate(json))
  def sampleStatsSchema = p.sampleStatsSchema
  def readGroupStatsSchema = p.readGroupStatsSchema
  override def prepare(json: JsonNode, wh: graft.store.Warehouse,
      now: java.sql.Timestamp): Map[String, String] = p.prepare(json, wh, now)
  def shred(raw: DataFrame): Shredded = p.shred(raw)
}

/** The traced runs. The workload's op sequence is issued untraced and
  * then traced, so their difference is the tracing overhead; each traced
  * op runs under a Spark job group named by its op id, with layer spans
  * around the public calls into each module, a listener counting Spark
  * work, and, for writes, a walk of the warehouse directory before and
  * after. Spans are written out at the end. */
object Traced {
  /** Per-layer metrics, in the order BENCHMARK.json lists them (run.py
    * refuses a result whose metrics differ from that list). Layers a
    * workload leaves idle report 0. */
  val Names: Seq[(String, String)] = Seq(
    "http.self_ms" -> "ms",
    "lifecycle.auth_ms" -> "ms", "lifecycle.auth_jobs" -> "count", "lifecycle.runs_ms" -> "ms",
    "lifecycle.patch_ms" -> "ms", "lifecycle.delete_ms" -> "ms",
    "store.read_ms" -> "ms", "store.dict_ms" -> "ms", "store.live_files" -> "count",
    "store.files_written_per_upload" -> "count", "store.bytes_written_per_upload" -> "bytes",
    "store.bytes_rewritten_per_mutation" -> "bytes", "store.dead_bytes_frac" -> "fraction",
    "store.bytes_per_input_byte" -> "ratio",
    "ingest.upload_ms" -> "ms", "ingest.jobs_per_upload" -> "count",
    "ingest.dup_reject_ms" -> "ms", "ingest.dup_reject_jobs" -> "count",
    "ingest.bulk_ms_per_run" -> "ms",
    "pipelines.validate_ms" -> "ms",
    "stats.build_ms" -> "ms", "stats.rows_examined_per_row_returned" -> "ratio",
    "render.self_ms" -> "ms",
    "entry.construct_ms" -> "ms", "entry.construct_jobs" -> "count", "entry.sink_ms" -> "ms") ++
    Library.Families.map(f => s"entry.family.${f}_ms" -> "ms") ++ Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.plan_ms_per_op" -> "ms",
    "spark.job_ms_per_op" -> "ms", "spark.task_ms_per_op" -> "ms", "spark.core_util" -> "fraction",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.spill_bytes_per_op" -> "bytes",
    "spark.input_records_per_op" -> "count", "spark.orphan_jobs" -> "count",
    "jvm.gc_ms_per_op" -> "ms", "jvm.heap_after_gc_mb" -> "MB",
    "trace.op_ms" -> "ms", "trace.unattributed_frac" -> "fraction",
    "trace.overhead_frac" -> "fraction")

  /** State of one traced run. */
  final class Session(spark: SparkSession, o: Main.Opts) {
    val tracer = new Tracer
    val probe = new SparkProbe(spark)
    val totals = new LayerTotals
    val spans = ArrayBuffer.empty[Span]
    val values = scala.collection.mutable.Map.empty[String, Double]
    val result = new Result
    private var n = 0
    var untracedMs, tracedMs = 0.0
    private var gcMs = 0L
    // store effects per op class: (ops, files written, bytes written)
    val written = scala.collection.mutable.Map.empty[String, (Int, Long, Long)]
      .withDefaultValue((0, 0L, 0L))
    var examined, returned = 0L

    /** Issue `op` traced through `ip`, judge it, and fold its spans. */
    def traced(op: Op, c: Client, model: Model, ip: InProcess, root: Option[String],
        overhead: Boolean): Sample = {
      val before = root.map(StoreState.of)
      n += 1
      val opId = s"op$n"
      val (res, counts) = measure(opId, op.cls)(ip.run(op, c))
      before.foreach { b =>
        val (files, bytes) = StoreState.of(root.get).writtenSince(b)
        val (k, f, by) = written(op.cls)
        written(op.cls) = (k + 1, f + files, by + bytes)
      }
      if (op.cls == "stats" || op.cls == "aggregate") res.foreach { case (_, body) =>
        examined += counts.inputRecords
        returned += Out.rows(body)
      }
      val ms = spans.last.us / 1000.0
      if (overhead) tracedMs += ms
      Sample(op.cls, ms, Service.judge(op, c, model, res))
    }

    /** Run `f` as op `opId` under its own job group and tracer, and fold
      * its spans, Spark counts and GC time into the totals. */
    def measure[T](opId: String, name: String)(f: => T): (Either[Exception, T], SparkCounts) = {
      probe.harvest() // drop events of earlier, untraced work
      val g0 = Jvm.gcMs
      spark.sparkContext.setJobGroup(opId, name)
      tracer.begin(opId)
      val t0 = Clock.nowUs
      val res = try Right(f) catch { case e: Exception => Left(e) }
      val t1 = Clock.nowUs
      val layers = tracer.end()
      spark.sparkContext.clearJobGroup()
      val counts = probe.harvest()
      gcMs += Jvm.gcMs - g0
      totals.add(opId, t1 - t0, layers, counts, spans)
      spans += Span(opId, name, "", t0, t1)
      (res, counts)
    }

    def untraced(s: Sample): Sample = { untracedMs += s.ms; s }

    def check(samples: Seq[Sample]): Unit = result.attempt(samples.size, samples.count(!_.ok))

    def finish(store: Option[(String, Long)]): Result = {
      val t = totals
      val ops = t.ops.max(1L).toDouble
      def put(k: String, v: Double): Unit = values.getOrElseUpdate(k, v)
      put("lifecycle.auth_ms", t.meanMs("lifecycle.auth"))
      put("lifecycle.auth_jobs", t.meanJobs("lifecycle.auth"))
      put("lifecycle.runs_ms", t.meanMs("lifecycle.runs"))
      put("lifecycle.patch_ms", t.meanMs("lifecycle.patch"))
      put("lifecycle.delete_ms", t.meanMs("lifecycle.delete"))
      put("store.read_ms", t.meanMs("store.read"))
      put("store.dict_ms", t.meanMs("store.dict"))
      put("ingest.upload_ms", t.meanMs("ingest.upload"))
      put("ingest.jobs_per_upload", t.meanJobs("ingest.upload"))
      put("ingest.dup_reject_ms", t.meanMs("ingest.dup_reject"))
      put("ingest.dup_reject_jobs", t.meanJobs("ingest.dup_reject"))
      put("pipelines.validate_ms", t.meanMs("pipelines.validate"))
      put("stats.build_ms", t.meanMs("stats.build"))
      put("stats.rows_examined_per_row_returned",
        if (returned == 0) 0.0 else examined.toDouble / returned)
      put("render.self_ms", t.meanSelfMs("render"))
      put("entry.construct_ms", t.meanMs("entry.construct"))
      put("entry.construct_jobs", t.meanJobs("entry.construct"))
      put("entry.sink_ms", t.meanMs("entry.sink"))
      def perOp(k: String, v: Double): Unit = put(k, v / ops)
      perOp("spark.jobs_per_op", t.counts.jobs.toDouble)
      perOp("spark.stages_per_op", t.counts.stages.toDouble)
      perOp("spark.tasks_per_op", t.counts.tasks.toDouble)
      perOp("spark.plan_ms_per_op", t.counts.planMs)
      perOp("spark.job_ms_per_op", t.sparkJobMs)
      perOp("spark.task_ms_per_op", t.counts.taskMs.toDouble)
      put("spark.core_util", if (t.opMs == 0) 0.0
        else t.counts.taskMs / (t.opMs * spark.sparkContext.defaultParallelism))
      perOp("spark.shuffle_bytes_per_op", t.counts.shuffleBytes.toDouble)
      perOp("spark.spill_bytes_per_op", t.counts.spillBytes.toDouble)
      perOp("spark.input_records_per_op", t.counts.inputRecords.toDouble)
      put("spark.orphan_jobs", t.orphanJobs.toDouble)
      perOp("jvm.gc_ms_per_op", gcMs.toDouble)
      System.gc()
      put("jvm.heap_after_gc_mb", Jvm.heapAfterGcMb)
      put("trace.op_ms", t.opMs / ops)
      put("trace.unattributed_frac", if (t.opMs == 0) 0.0 else t.unattributedMs / t.opMs)
      put("trace.overhead_frac", if (untracedMs == 0) 0.0 else tracedMs / untracedMs - 1)
      def perClass(cls: Seq[String]): (Int, Long, Long) =
        cls.map(written).foldLeft((0, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
      val (ups, upFiles, upBytes) = perClass(Seq("upload"))
      val (muts, _, mutBytes) = perClass(Seq("patch", "delete"))
      put("store.files_written_per_upload", if (ups == 0) 0.0 else upFiles.toDouble / ups)
      put("store.bytes_written_per_upload", if (ups == 0) 0.0 else upBytes.toDouble / ups)
      put("store.bytes_rewritten_per_mutation", if (muts == 0) 0.0 else mutBytes.toDouble / muts)
      store.foreach { case (root, inputBytes) =>
        val s = StoreState.of(root)
        put("store.live_files", s.liveParquet.toDouble)
        put("store.dead_bytes_frac", 1.0 - s.liveBytes.toDouble / s.totalBytes)
        put("store.bytes_per_input_byte", s.totalBytes.toDouble / inputBytes)
      }
      Names.foreach { case (k, unit) => result.metric(k, values.getOrElse(k, 0.0), unit) }
      val file = Paths.get(o.work, "..", "out", s"spans-${o.workload}-${o.seed}.jsonl").normalize
      Jvm.writeSpans(file, (spans ++ tracer.spans).sortBy(_.startUs).toSeq)
      result.report("spans_file") = file.toString
      result.report("traced_ops") = t.ops
      result.report("spans") = spans.size + tracer.spans.size
      result.report("layer_self_ms") = t.selfMs.toMap
      result.report("unattributed_ms") = t.unattributedMs
      result
    }
  }

  /** Two copies of the warehouse, as it stands after set-up and warm-up,
    * take the same op sequence: copy A over HTTP, copy B in-process, where
    * each read op is issued both untraced and traced on the same state,
    * and each write op traced. */
  def service(spark: SparkSession, o: Main.Opts): Result = {
    val s = new Session(spark, o)
    val a = Service.load(spark, o.corpus, Service.rootUnder(o.work, "whA"), o.seed)
    s.values("ingest.bulk_ms_per_run") = a.bulkMsPerRun
    val ops = ArrayBuffer.empty[(Op, String)]
    val httpMs = ArrayBuffer.empty[Double]
    val b = Service.withShim(a.sentinel) { http =>
      s.check(Service.warmUp(a, o.seed, http.send))
      val b = Service.fork(spark, a, Service.rootUnder(o.work, "whB"), new TracedPlugin(_, s.tracer))
      // one writer op per reader op, until half the run has passed and
      // every op class has come up, so every layer is measured
      val next = Service.traffic(a, o.seed, writerEvery = 2)
      val deadline = System.nanoTime() + (o.seconds / 2 * 1e9).toLong
      val classes = Set("stats", "aggregate", "browse", "upload", "duplicate", "patch", "delete")
      while (System.nanoTime() < deadline || !classes.subsetOf(ops.map(_._1.cls).toSet)) {
        val (op, c) = next()
        val h = Service.timed(op, c, a.model, http.send)
        s.check(Seq(h))
        ops += op -> c.id
        httpMs += h.ms
      }
      b
    }
    val plain = new InProcess(b.sentinel, Tracer.off)
    val ip = new InProcess(b.sentinel, s.tracer)
    val httpSelf = ArrayBuffer.empty[Double]
    var reads = 0
    ops.zip(httpMs).foreach { case ((op, id), h) =>
      val c = b.client(id)
      if (Seq("stats", "aggregate", "browse").contains(op.cls)) {
        // which of the two runs first alternates: the first is the colder
        def untraced(): Unit = {
          val p = s.untraced(Service.timed(op, c, b.model, plain.run))
          httpSelf += h - p.ms
          s.check(Seq(p))
        }
        if (reads % 2 == 0) untraced()
        s.check(Seq(s.traced(op, c, b.model, ip, None, overhead = true)))
        if (reads % 2 == 1) untraced()
        reads += 1
      } else s.check(Seq(s.traced(op, c, b.model, ip, Some(b.root), overhead = false)))
    }
    s.values("http.self_ms") = Main.median(httpSelf.toSeq)
    val (checks, bad) = Service.durability(spark, b)
    s.result.attempt(checks, bad)
    val uploaded = ops.collect { case (Upload(r, _), _) => r.bytes.length.toLong }.sum
    s.finish(Some((b.root, b.inputBytes + uploaded)))
  }

  def library(spark: SparkSession, o: Main.Opts): Result = {
    val s = new Session(spark, o)
    val order = Library.Queries
    val dir = Paths.get(o.data, Library.Scale).toString
    Library.checkFingerprints(s.result, o, Library.fingerprintPass(spark, dir, order))
    // each query untraced and traced, which one first alternating (a
    // query's first run is the colder one), until half the run has passed
    // and every query has run
    val family = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    val deadline = System.nanoTime() + (o.seconds / 2 * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < order.size) {
      val q = order(i % order.size)
      def untraced(): Unit = s.check(Seq(s.untraced(Library.timed(spark, q, dir))))
      if (i % 2 == 0) untraced()
      val (res, _) = s.measure(s"q$i", q) {
        val df = s.tracer.span("entry.construct")(Library.query(q)(spark, dir))
        s.tracer.span("entry.sink")(df.write.format("noop").mode("overwrite").save())
        s.tracer.span("entry.drop")(Tables.dropPersisted(spark))
      }
      res.left.foreach(e => System.err.println(s"$q failed: $e"))
      val ms = s.spans.last.us / 1000.0
      s.tracedMs += ms
      family.getOrElseUpdate(Library.familyOf(q), ArrayBuffer.empty) += ms
      s.result.attempt(1, if (res.isRight) 0 else 1)
      if (i % 2 == 1) untraced()
      i += 1
    }
    family.foreach { case (f, ms) => s.values(s"entry.family.${f}_ms") = ms.sum / ms.size }
    s.finish(None)
  }
}
