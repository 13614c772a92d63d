package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** The operator-library workload: queries of `SparkEntry.queries` through a
  * noop sink, with `Tables.dropPersisted` between queries.
  *
  * The full 311-query suite takes over two minutes per pass on 4 cores even
  * at sf0.01, more than one run may last, so the workload runs a fixed
  * subset: one query of median cost from each of the eight heavy families,
  * on the sf0.01 tables, always in the same order. The order is not drawn
  * from the seed: it moves single queries' times by up to a quarter (what
  * ran before a query changes its warm-up), which would show as a spread
  * between seeds with no change to the program. The library's inputs are
  * fixed, so the seed does not change them. */
object Library {
  val Families: Seq[String] =
    Seq("dedup", "vector", "semantic", "text", "bm25", "graph", "curate", "event")

  val Queries: Seq[String] = Seq(
    "dedup_minhash_pairs", "vector_neardup_lsh", "semantic_dedup", "text_langid_script",
    "bm25_search", "graph_triangles", "curate_corpus", "event_funnel")

  val Scale = "sf0.01"

  def familyOf(q: String): String = q.takeWhile(_ != '_')

  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"no query $name in SparkEntry.queries"))

  def runNoop(spark: SparkSession, name: String, dir: String): Unit = {
    query(name)(spark, dir).write.format("noop").mode("overwrite").save()
    Tables.dropPersisted(spark)
  }

  /** Row count and an order-independent hash of the rows (the sum of each
    * row's xxhash64 over its JSON rendering), computed by Spark. */
  def fingerprint(df: DataFrame): String = {
    val row = to_json(struct(df.columns.toIndexedSeq.map(c => col(s"`${c.replace("`", "``")}`")): _*))
    val r = df.select(xxhash64(row).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect()(0)
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).fold("0")(_.toPlainString)}"
  }

  /** One warm-up pass that also records each query's fingerprint.
    * Returns name → fingerprint, or the error. */
  def fingerprintPass(spark: SparkSession, dir: String, order: Seq[String]): Map[String, String] =
    order.map { q =>
      val fp =
        try fingerprint(query(q)(spark, dir))
        catch { case e: Exception => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      Tables.dropPersisted(spark)
      q -> fp
    }.toMap

  private val mapper = new ObjectMapper()

  /** The fingerprints recorded at the reference commit, and the queries
    * whose fingerprint is known not to repeat. */
  def expected(file: String): (Map[String, String], Set[String]) = {
    val n = mapper.readTree(Files.readAllBytes(Paths.get(file)))
    val fps = n.path("fingerprints").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    val unstable = n.path("unstable").properties().asScala.map(_.getKey).toSet
    (fps, unstable)
  }

  def writeExpected(file: String, fps: Map[String, String]): Unit = {
    val root = mapper.createObjectNode()
    val f = root.putObject("fingerprints")
    fps.toSeq.sorted.foreach { case (k, v) => f.put(k, v) }
    root.putObject("unstable")
    Files.write(Paths.get(file),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
  }

  /** Closed loop of whole passes over the queries in `order`: passes start
    * until `seconds` have passed, and at least two run. Whole passes give
    * every query the same number of runs: a query that ran once more than
    * another would have its time drawn from more, and warmer, runs. */
  def loop(spark: SparkSession, order: Seq[String], dir: String, seconds: Double): Seq[Sample] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
    var passes = 0
    while (System.nanoTime() < deadline || passes < 2) {
      order.foreach(q => out += timed(spark, q, dir))
      passes += 1
    }
    out.toSeq
  }

  /** One timed run of query `q` through the noop sink. */
  def timed(spark: SparkSession, q: String, dir: String): Sample = {
    val t0 = System.nanoTime()
    val ok =
      try { runNoop(spark, q, dir); true }
      catch { case e: Exception => System.err.println(s"$q failed: $e"); false }
    Sample(q, (System.nanoTime() - t0) / 1e6, ok)
  }

  /** Compare a pass's fingerprints with the recorded ones (or record
    * them); a thrown query or a changed fingerprint is a failure. */
  def checkFingerprints(r: Result, o: Main.Opts, fps: Map[String, String]): Unit =
    if (o.record) {
      writeExpected(o.fingerprints, fps)
      r.attempt(fps.size, fps.count(_._2.startsWith("error")))
    } else {
      val (want, unstable) = expected(o.fingerprints)
      val bad = fps.filter { case (q, fp) =>
        fp.startsWith("error") || (!unstable(q) && !want.get(q).contains(fp))
      }
      bad.foreach { case (q, fp) => System.err.println(s"fingerprint of $q: $fp, expected ${want.get(q)}") }
      r.attempt(fps.size, bad.size)
      r.report("fingerprint_mismatches") = bad.size
    }
}
