package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. Times are epoch microseconds so
  * they line up with Spark's job events. `parent` is the enclosing span's
  * name; every span of one op shares `op`. */
final case class Span(op: String, name: String, parent: String, startUs: Long, endUs: Long) {
  def us: Long = endUs - startUs
}

object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** Spark work counted between two [[SparkProbe.harvest]] calls. */
final case class SparkCounts(
    jobs: Long, stages: Long, tasks: Long, taskMs: Long, planMs: Double,
    shuffleBytes: Long, spillBytes: Long, inputRecords: Long,
    jobSpans: Seq[(String, Long, Long)]) // (job group, start µs, end µs)

/** A SparkListener plus a QueryExecutionListener that count jobs, stages,
  * tasks, task time, shuffle, spill, input records and Catalyst planning
  * time. Events arrive on Spark's listener bus; [[harvest]] drains the bus
  * first, so with one op in flight at a time everything it returns belongs
  * to the op that just ended. */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, taskMs, shuffle, spill, records = new AtomicLong
  private val planUs = new AtomicLong
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val spans = new ConcurrentLinkedQueue[(String, Long, Long)]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    starts.put(e.jobId, (group.getOrElse(""), e.time * 1000L))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet()
    Option(starts.remove(e.jobId)).foreach { case (g, s) => spans.add((g, s, e.time * 1000L)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      records.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  private def planned(qe: QueryExecution): Unit =
    planUs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000L)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  def harvest(): SparkCounts = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val js = Iterator.continually(spans.poll()).takeWhile(_ != null).toVector
    SparkCounts(jobs.getAndSet(0), stages.getAndSet(0), tasks.getAndSet(0),
      taskMs.getAndSet(0), planUs.getAndSet(0) / 1000.0, shuffle.getAndSet(0),
      spill.getAndSet(0), records.getAndSet(0), js)
  }
}

/** Records layer spans for the op in flight, nested by call: a span
  * opened inside another is its child. Outside [[begin]]/[[end]] a span
  * only evaluates its body. */
class Tracer {
  private var on = false
  private var op = ""
  private var stack = List("op")
  private val open = ArrayBuffer.empty[Span]
  val spans = ArrayBuffer.empty[Span]

  def begin(opId: String): Unit = { op = opId; open.clear(); stack = List("op"); on = true }
  def end(): Seq[Span] = { on = false; open.toSeq }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = stack.head
      stack = name :: stack
      val s = Clock.nowUs
      try f finally {
        val sp = Span(op, name, parent, s, Clock.nowUs)
        stack = stack.tail
        open += sp
        spans += sp
      }
    }
}

object Tracer {
  /** A tracer that is never switched on. */
  def off: Tracer = new Tracer
}

/** Per-layer accumulation over the traced ops of a run. */
final class LayerTotals {
  val ms = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val selfMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val jobs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  val count = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  var opMs, unattributedMs, sparkJobMs = 0.0
  var ops = 0L
  var counts = SparkCounts(0, 0, 0, 0, 0, 0, 0, 0, Nil)
  var orphanJobs = 0L

  /** Fold one op: its wall time, its layer spans, and the Spark jobs that
    * ran under its job group. A layer's self time is its span minus the
    * part its child spans and the Spark jobs inside it cover; the op's
    * unattributed time is its wall minus its top-level spans. Each job
    * span is kept as a child of the innermost layer span containing it. */
  def add(opId: String, wallUs: Long, layers: Seq[Span], c: SparkCounts,
      out: ArrayBuffer[Span]): Unit = {
    ops += 1
    opMs += wallUs / 1000.0
    unattributedMs += (wallUs - layers.filter(_.parent == "op").map(_.us).sum).max(0L) / 1000.0
    orphanJobs += c.jobSpans.count(_._1 != opId)
    val mine = c.jobSpans.filter(_._1 == opId).map { case (_, s, e) => (s, e) }
    def within(l: Span)(iv: (Long, Long)) = iv._1 < l.endUs && iv._2 > l.startUs
    layers.foreach { l =>
      val kids = layers.filter(k => k.parent == l.name && (k ne l) && within(l)((k.startUs, k.endUs)))
      val inside = mine.filter(within(l))
      val covered = union((kids.map(k => (k.startUs, k.endUs)) ++ inside)
        .map { case (s, e) => (s max l.startUs, e min l.endUs) })
      ms(l.name) += l.us / 1000.0
      selfMs(l.name) += (l.us - covered).max(0L) / 1000.0
      jobs(l.name) += inside.size
      count(l.name) += 1
    }
    mine.foreach { case (s, e) =>
      val holder = layers.filter(within(_)((s, e))).sortBy(_.us).headOption
      out += Span(opId, "spark.job", holder.fold("op")(_.name), s, e)
    }
    sparkJobMs += union(mine) / 1000.0
    counts = SparkCounts(counts.jobs + c.jobs, counts.stages + c.stages, counts.tasks + c.tasks,
      counts.taskMs + c.taskMs, counts.planMs + c.planMs, counts.shuffleBytes + c.shuffleBytes,
      counts.spillBytes + c.spillBytes, counts.inputRecords + c.inputRecords, Nil)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  def meanMs(layer: String): Double = if (count(layer) == 0) 0.0 else ms(layer) / count(layer)
  def meanSelfMs(layer: String): Double =
    if (count(layer) == 0) 0.0 else selfMs(layer) / count(layer)
  def meanJobs(layer: String): Double =
    if (count(layer) == 0) 0.0 else jobs(layer).toDouble / count(layer)
}

/** On-disk state of a warehouse root: every regular file with its inode
  * key and size, and which files the live snapshots (`_latest`) point at. */
final case class StoreState(files: Map[String, (AnyRef, Long)], live: Set[String]) {
  private def uniqueBytes(paths: Iterable[String]): Long =
    paths.map(files).groupBy(_._1).values.map(_.head._2).sum
  def totalBytes: Long = uniqueBytes(files.keys)
  def liveBytes: Long = uniqueBytes(live)
  def liveParquet: Int = live.count(_.endsWith(".parquet"))

  /** Files and bytes written since `before`; hard links of unchanged
    * files (copy-on-write reuse) are not new writes. */
  def writtenSince(before: StoreState): (Int, Long) = {
    val old = before.files.values.map(_._1).toSet
    val fresh = files.filter { case (p, (k, _)) => p.endsWith(".parquet") && !old(k) }
    (fresh.size, fresh.values.groupBy(_._1).values.map(_.head._2).sum)
  }
}

object StoreState {
  def of(root: String): StoreState = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return StoreState(Map.empty, Set.empty)
    val files = {
      val s = Files.walk(r)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p)).map { p =>
        val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        p.toString -> ((a.fileKey: AnyRef, a.size))
      }.toMap
      finally s.close()
    }
    val liveDirs = {
      val s = Files.list(r)
      try s.iterator.asScala.flatMap { t =>
        val ptr = t.resolve("_latest")
        if (Files.exists(ptr))
          Some(t.resolve("v" + new String(Files.readAllBytes(ptr)).trim).toString + "/")
        else None
      }.toVector
      finally s.close()
    }
    StoreState(files, files.keySet.filter(p => liveDirs.exists(p.startsWith)))
  }
}

/** JVM-wide counters: cumulative GC time and heap in use after the last
  * collection. */
object Jvm {
  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  def heapAfterGcMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"op":"${s.op}","name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
      w.newLine()
    } finally w.close()
  }
}
