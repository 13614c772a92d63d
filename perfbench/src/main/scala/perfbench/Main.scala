package perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.Tables

/** Benchmark entry point. Runs one workload and prints, as its last stdout
  * line, `{"correct","attempted","failed","metrics"}`: the end-to-end
  * metrics when untraced, the per-layer metrics when traced. A line
  * starting with `{"report"` before it gives per-class latencies with
  * their sample counts and the checks made.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --corpus DIR --data DIR --fingerprints FILE
  * [--record-fingerprints]`, or `perfbench.Main --build-corpus DIR` to
  * build the service's base corpus at DIR. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, corpus: String, data: String, fingerprints: String, record: Boolean)

  def main(args: Array[String]): Unit = {
    val n = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = Tables.session(s"local[$n]", n)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try {
        if (args.headOption.contains("--build-corpus")) Service.buildCorpus(spark, args(1))
        else {
          val o = parse(args)
          val r = o.workload match {
            case "service" => if (o.trace) Traced.service(spark, o) else service(spark, o, sessionS)
            case "library" => if (o.trace) Traced.library(spark, o) else library(spark, o, sessionS)
            case w         => sys.error(s"unknown workload $w")
          }
          r.report("session_s") = sessionS
          println(Out.json(Map("report" -> r.report.toMap)))
          println(r.line)
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    // a stopped session can leave non-daemon threads behind
    System.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("corpus"), need("data"), need("fingerprints"),
      args.contains("--record-fingerprints"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank quantile; the caller decides whether enough samples lie
    * beyond it. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s((math.ceil(q * s.size).toInt - 1).max(0).min(s.size - 1))
  }

  /** Median latency per class, and p90 where at least ten samples lie
    * beyond it, each with its sample count. */
  def classReport(samples: Seq[Sample]): Map[String, Any] =
    samples.groupBy(_.cls).map { case (cls, ss) =>
      val ms = ss.map(_.ms)
      cls -> (Map[String, Any]("n" -> ms.size, "p50_ms" -> median(ms)) ++
        (if (ms.size >= 100) Map("p90_ms" -> quantile(ms, 0.9)) else Map.empty))
    }

  /** `setup_s` is the time before timing starts: the session start plus
    * the workload's set-up, warm-up included. A set-up costs tens of
    * seconds in a cold JVM, so a run affords one. */
  private def endToEnd(r: Result, sessionS: Double, setupS: Double, samples: Seq[Sample],
      opsPerS: Double, p50Ms: Double): Result = {
    r.attempt(samples.size, samples.count(!_.ok))
    r.metric("setup_s", sessionS + setupS, "s")
    r.metric("ops_per_s", opsPerS, "1/s")
    r.metric("op_p50_ms", p50Ms, "ms")
    r.report("classes") = classReport(samples)
    r
  }

  // ---- untraced workloads ---------------------------------------------------

  /** Set-up (a copy of the base corpus plus the seeded batch and single
    * uploads), an untimed warm-up, the closed loop, then the durability
    * check on a fresh `Sentinel`. */
  def service(spark: SparkSession, o: Opts, sessionS: Double): Result = {
    val l = Service.load(spark, o.corpus, Service.rootUnder(o.work, "wh"), o.seed)
    val r = new Result
    val next = Service.traffic(l, o.seed)
    val (warmS, samples) = Service.withShim(l.sentinel) { http =>
      val t0 = System.nanoTime()
      val warm = Service.warmUp(l, o.seed, http.send)
      r.attempt(warm.size, warm.count(!_.ok))
      ((System.nanoTime() - t0) / 1e9, Service.closedLoop(o.seconds, l.model, next, http.send))
    }
    val (checks, bad) = Service.durability(spark, l)
    r.attempt(checks, bad)
    r.report("setup_steps_s") = scala.collection.immutable.ListMap(l.steps :+ ("warm_up_s" -> warmS): _*)
    r.report("durability_checks") = checks
    r.report("durability_failed") = bad
    endToEnd(r, sessionS, l.seconds + warmS, samples,
      samples.size / samples.map(_.ms / 1000).sum, median(samples.map(_.ms)))
  }

  /** Set-up is one pass that checks the fingerprints; then the closed
    * loop. Each query's figure is the median of its loop runs after the
    * first, the steady-state cost: in a short-lived JVM a query's first run
    * through the noop sink still compiles. Not the fastest run (as `Bench`
    * takes): a fast machine fits a third pass, and a minimum over three
    * runs reads lower than one over two for the same program. */
  def library(spark: SparkSession, o: Opts, sessionS: Double): Result = {
    val order = Library.Queries
    val dir = Paths.get(o.data, Library.Scale).toString
    val r = new Result
    val t0 = System.nanoTime()
    Library.checkFingerprints(r, o, Library.fingerprintPass(spark, dir, order))
    val setupS = (System.nanoTime() - t0) / 1e9
    val samples = Library.loop(spark, order, dir, o.seconds)
    val perQuery = samples.groupBy(_.cls).values.map(ss => median(ss.drop(1).map(_.ms))).toSeq
    endToEnd(r, sessionS, setupS, samples, perQuery.size / perQuery.sum * 1000, median(perQuery))
  }
}

/** What a workload run produced: check counts, metrics and report. */
final class Result {
  var attempted, failed = 0L
  val metrics = ArrayBuffer.empty[(String, Double, String)]
  val report = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def attempt(n: Long, bad: Long): Unit = { attempted += n; failed += bad }
  def metric(name: String, value: Double, unit: String): Unit = metrics += ((name, value, unit))

  def line: String = Out.json(Map(
    "correct" -> (failed == 0 && attempted > 0),
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (k, v, u) =>
      k -> Map("value" -> v, "unit" -> u)
    }.toSeq: _*)))
}

object Out {
  private val mapper = new ObjectMapper()
  mapper.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  /** Length of a JSON array answer (0 for anything else). */
  def rows(body: String): Int =
    try { val n = mapper.readTree(body); if (n.isArray) n.size else 0 }
    catch { case _: Exception => 0 }
}
