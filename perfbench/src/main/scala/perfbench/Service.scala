package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Sentinel
import graft.http.HttpShim
import graft.pipelines.PipelinePlugin
import graft.store.Warehouse

/** One timed op: latency class, wall time and whether the answer was right. */
final case class Sample(cls: String, ms: Double, ok: Boolean)

/** A warehouse root loaded with the seeded corpus, and the answer key that
  * describes it. */
final case class Loaded(
    root: String, sentinel: Sentinel, clients: Vector[Client], model: Model,
    steps: Seq[(String, Double)], bulkMsPerRun: Double, inputBytes: Long) {
  def client(id: String): Client = clients.find(_.id == id).get
  /** Set-up time, the sum of the timed steps (seconds each). */
  def seconds: Double = steps.map(_._2).sum
}

/** The `service` workload: `Sentinel` behind `HttpShim` on loopback. */
object Service {
  /** Base corpus: runs per pipeline, loaded by bulk ingest. It does not
    * depend on the run's seed, so it is built once per version of the
    * sources, in a JVM of its own before any timed run, and every run
    * starts from a copy. */
  val RunsPerPipeline = 250
  private val BaseSeed = 0L
  /** Per-run set-up, from the run's seed: one more bulk-ingested batch of
    * maple runs, and one single upload per pipeline, which fills the
    * reference and annotation dictionaries and compiles each pipeline's
    * single-upload path before timing. */
  val BatchRuns = 25
  val Loader = "loader"
  /** Every `OwnerStride`-th base run belongs to a client, the rest to the
    * loader account, so `GET /runs` lists stay request-sized. */
  private val OwnerStride = 10
  private val Password = "Bench1pass"
  private val Users = Seq(Loader, "reader", "writer")

  private def sentinelAt(spark: SparkSession, root: String,
      wrap: PipelinePlugin => PipelinePlugin): Sentinel =
    new Sentinel(spark, root,
      extraPipelines = Seq(graft.pipelines.MaplePipeline, graft.pipelines.PrefPipeline,
        graft.pipelines.PannPipeline, graft.pipelines.PlainPipeline).map(wrap))

  private def baseRuns: Seq[RunKey] = {
    val rnd = new Random(BaseSeed)
    Gen.AllPipelines.flatMap { p =>
      (0 until RunsPerPipeline).map { i =>
        val owner = if (i % OwnerStride == 0) Users(1 + (i / OwnerStride) % 2) else Loader
        Gen.run(rnd, p, s"base-$i", owner, single = false)
      }
    }
  }

  private def bulk(spark: SparkSession, sentinel: Sentinel, runs: Seq[RunKey]): Unit = {
    val s = spark
    import s.implicits._
    runs.groupBy(_.pipeline).foreach { case (p, rs) =>
      val n = sentinel.bulkIngest(
        rs.map(r => (new String(r.bytes, "UTF-8"), r.fileName, r.owner))
          .toDF("content", "fileName", "uploaderId"), p)
      require(n == rs.size, s"bulk ingest of $p stored $n of ${rs.size} runs")
    }
  }

  /** Build the base corpus at `dir`: users and the bulk-ingested runs.
    * Built beside its final place and renamed, so an interrupted build is
    * never used. */
  def buildCorpus(spark: SparkSession, dir: String): Unit = {
    val done = Paths.get(dir)
    val tmp = Paths.get(s"$dir.tmp-${System.nanoTime()}")
    val sentinel = sentinelAt(spark, tmp.toString, identity)
    Users.foreach(id => sentinel.addUser(id, s"$id@bench.test", Password, Password, verified = true))
    val runs = baseRuns
    validate(sentinel, runs)
    bulk(spark, sentinel, runs)
    Files.move(tmp, done, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Set up one run under `root`: copy the base corpus at `corpus`, then
    * ingest the seeded batch and the single uploads. The answer key is
    * regenerated, not read back from the service. */
  def load(spark: SparkSession, corpus: String, root: String, seed: Long,
      wrap: PipelinePlugin => PipelinePlugin = identity): Loaded = {
    val base = Paths.get(corpus)
    require(Files.isDirectory(base), s"no base corpus at $corpus")
    val steps = ArrayBuffer.empty[(String, Double)]
    var t0 = System.nanoTime()
    def step(name: String): Unit = {
      val t = System.nanoTime()
      steps += name -> (t - t0) / 1e9
      t0 = t
    }
    copyTree(base, Paths.get(root))
    step("copy_s")
    val sentinel = sentinelAt(spark, root, wrap)
    val users = sentinel.warehouse.read(Warehouse.Users).collect().map { r =>
      val id = r.getAs[String]("id")
      id -> Client(id, r.getAs[String]("activeKey"), graft.model.Records.User(id,
        r.getAs[String]("email"), r.getAs[Boolean]("verified"), r.getAs[Boolean]("isAdmin")))
    }.toMap
    val clients = Vector(users("reader"), users("writer"))
    val model = new Model
    baseRuns.foreach(model.add)
    val rnd = new Random(seed)
    val batch = (0 until BatchRuns).map(i => Gen.run(rnd, "maple", s"batch$seed-$i", Loader, single = false))
    val singles = Gen.AllPipelines.map(p => Gen.run(rnd, p, s"single$seed", "writer", single = true))
    validate(sentinel, batch ++ singles)
    step("open_s")
    bulk(spark, sentinel, batch)
    step("bulk_s")
    batch.foreach(model.add)
    singles.foreach { r =>
      val id = sentinel.upload(r.bytes, r.fileName, r.pipeline, users("writer").user)
      require(id == r.runId, s"upload of ${r.fileName} got id $id, expected ${r.runId}")
      model.add(r)
    }
    step("singles_s")
    Loaded(root, sentinel, clients, model, steps.toSeq,
      steps.toMap.apply("bulk_s") * 1000 / batch.size, model.live.map(_.bytes.length.toLong).sum)
  }

  /** A copy of `l`'s warehouse under `root` in its current state, with
    * its own `Sentinel` and answer key. */
  def fork(spark: SparkSession, l: Loaded, root: String,
      wrap: PipelinePlugin => PipelinePlugin): Loaded = {
    copyTree(Paths.get(l.root), Paths.get(root))
    l.copy(root = root, sentinel = sentinelAt(spark, root, wrap), model = l.model.copy())
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  /** Every generated payload must pass its pipeline's schema before any
    * timing starts: a rejected upload would measure the error path. */
  def validate(sentinel: Sentinel, runs: Seq[RunKey]): Unit = runs.foreach { r =>
    val errs = sentinel.pipelines(r.pipeline).validate(Gen.parse(r.bytes))
    require(errs.isEmpty, s"generated ${r.pipeline} payload fails its schema: ${errs.mkString("; ")}")
  }

  // ---- traffic mixes --------------------------------------------------------

  /** Stream of ops for one client. Classes follow `order` cyclically, an
    * order that spreads each class evenly, so every prefix of the stream,
    * and so every run however short, issues close to the same class
    * shares. `pick` gets the class, how many of that class came before,
    * and the seeded generator: the count fixes the pipeline an op targets
    * (see `rotate`), the seed its parameters. */
  final class Stream(seed: Long, order: Seq[String], pick: (String, Int, Random) => Op) {
    private val rnd = new Random(seed)
    private val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    private var i = 0
    def next(): Op = {
      val k = order(i % order.size)
      i += 1
      seen(k) += 1
      pick(k, seen(k) - 1, rnd)
    }
  }

  /** The pipeline of the `n`-th op of a class. Each pipeline has its own
    * tables, and an op's first run on a pipeline compiles code the next
    * ones reuse, so a pipeline drawn at random made a run's cost depend on
    * how many cold pipelines its few ops happened to hit. In rotation
    * every run meets them in the same order. */
  def rotate(pipelines: Seq[String], n: Int): String = pipelines(n % pipelines.size)

  /** Fixed size of a runIds subset: the size changes the generated code of
    * the `IN` filter, and every new shape compiles on first use. */
  val RunIdsPerRequest = 4

  private def sample[T](rnd: Random, xs: Seq[T], n: Int): Seq[T] =
    Seq.fill(n)(xs(rnd.nextInt(xs.size))).distinct

  /** A random selector over stats pipeline `p`. */
  def selection(rnd: Random, model: Model, p: String, withRunIds: Boolean): Selection = {
    val rg = p == "maple" && rnd.nextBoolean()
    val runs = model.live.filter(_.pipeline == p)
    val ids = if (withRunIds) rnd.shuffle(runs.map(_.runId)).take(RunIdsPerRequest) else Nil
    val refs = if (p == "pref" && rnd.nextInt(3) == 0)
      sample(rnd, model.refIds.toSeq.sorted, 1 + rnd.nextInt(2)) else Nil
    val annots = if (p == "pann" && rnd.nextInt(3) == 0)
      sample(rnd, model.annotIds.toSeq.sorted, 1 + rnd.nextInt(2)) else Nil
    val lib = if (rg && rnd.nextInt(3) == 0) Some(if (rnd.nextBoolean()) "paired" else "single") else None
    Selection(p, rg, lib, ids, refs, annots)
  }

  /** Data points: a runIds subset, or an nLimit over the whole pipeline,
    * keeps every answer request-sized. */
  def statsReq(rnd: Random, model: Model, p: String): Op = {
    val sel = selection(rnd, model, p, withRunIds = rnd.nextInt(3) > 0)
    val limit = if (sel.runIds.isEmpty || rnd.nextBoolean()) Some(1 + rnd.nextInt(50)) else None
    StatsReq(sel, rnd.nextBoolean(), limit)
  }

  def aggReq(rnd: Random, model: Model, p: String): Op = {
    val sel = selection(rnd, model, p, withRunIds = rnd.nextInt(3) > 0)
    val ms = Gen.metricsOf(sel.pipeline, sel.readGroupLevel)
    AggReq(sel, rnd.shuffle(ms).take(1 + rnd.nextInt(ms.size)))
  }

  /** Reader mix: 4 stats, 3 aggregate and 3 browse requests in every 10
    * (the browse requests rotate through the run list, a run, and the
    * rollup or a dictionary listing). */
  val ReadMix: Seq[String] =
    Seq("stats", "aggregate", "runs", "stats", "aggregate", "run", "stats", "aggregate", "browse", "stats")

  def readOp(model: Model, c: Client)(k: String, n: Int, rnd: Random): Op = k match {
    case "stats"     => statsReq(rnd, model, rotate(Gen.StatsPipelines, n))
    case "aggregate" => aggReq(rnd, model, rotate(Gen.StatsPipelines, n))
    case "runs" =>
      ListRuns(if (rnd.nextBoolean()) Nil else sample(rnd, Gen.AllPipelines, 1 + rnd.nextInt(2)))
    case "run" =>
      val mine = model.live.filter(_.owner == c.id)
      GetRun(mine(rnd.nextInt(mine.size)).runId)
    case _ => n % 3 match {
      case 0 => Rollup
      case 1 => Dict("references")
      case _ => Dict("annotations")
    }
  }

  /** Writer mix: in every 20 ops, 12 uploads of new summaries (raw and
    * multipart), 2 re-posts of an earlier payload (409), 2 patches, 1
    * delete, 2 stats and 1 aggregate read. Every write kind comes up
    * within the first four, so a short run times each of them. */
  val WriteMix: Seq[String] = {
    val (u, r, p, s, d, a) = ("upload", "repost", "patch", "stats", "delete", "aggregate")
    Seq(u, r, p, d, u, a, u, s, u, u, p, u, r, u, s, u, u, u, u, u)
  }

  /** New summaries for the writer, generated and validated before timing. */
  def uploadPool(sentinel: Sentinel, seed: Long, owner: String, n: Int): Vector[RunKey] = {
    val rnd = new Random(seed ^ 0x5eed)
    val pool = Vector.tabulate(n)(i => Gen.run(rnd, rotate(Gen.AllPipelines, i),
      s"new$seed-$i", owner, single = true))
    validate(sentinel, pool)
    pool
  }

  final class Writer(model: Model, c: Client, pool: Vector[RunKey]) {
    private var used = 0
    private val posted = ArrayBuffer.empty[RunKey]
    private var renames = 0
    def op(k: String, n: Int, rnd: Random): Op = {
      def mine(p: String) = model.live.filter(r => r.owner == c.id && r.pipeline == p)
      def anyOf(p: String) = { val rs = mine(p); rs(rnd.nextInt(rs.size)).runId }
      k match {
        case "repost" if posted.nonEmpty => Repost(posted(rnd.nextInt(posted.size)))
        case "patch" =>
          renames += 1
          Patch(anyOf(rotate(Gen.AllPipelines, n)), s"renamed-$renames")
        case "delete"    => Delete(anyOf(rotate(Gen.AllPipelines, n)))
        case "stats"     => statsReq(rnd, model, rotate(Gen.StatsPipelines, n))
        case "aggregate" => aggReq(rnd, model, rotate(Gen.StatsPipelines, n))
        case _ =>
          require(used < pool.size, "upload pool exhausted")
          val r = pool(used)
          used += 1
          posted += r
          Upload(r, multipart = rnd.nextBoolean())
      }
    }
  }

  val PoolSize = 300

  /** The op stream of one run: a writer op after every
    * `writerEvery - 1` reader ops (two per writer op when timing). */
  def traffic(l: Loaded, seed: Long, writerEvery: Int = 3): () => (Op, Client) = {
    val Vector(reader, writer) = l.clients
    val w = new Writer(l.model, writer, uploadPool(l.sentinel, seed, writer.id, PoolSize))
    val reads = new Stream(seed * 1000, ReadMix, readOp(l.model, reader))
    val writes = new Stream(seed * 1000 + 1, WriteMix, w.op)
    var i = -1
    () => {
      i += 1
      if (i % writerEvery == writerEvery - 1) (writes.next(), writer) else (reads.next(), reader)
    }
  }

  /** Untimed warm-up: half a round of the reader mix, then a re-post of
    * the set-up upload of the first pipeline in rotation (409), a patch of
    * it and its delete. */
  def warmUp(l: Loaded, seed: Long, send: (Op, Client) => (Int, String)): Seq[Sample] = {
    val Vector(reader, writer) = l.clients
    val st = new Stream(seed ^ 0x3a7, ReadMix, readOp(l.model, reader))
    val single = l.model.live.find(r => r.owner == writer.id && r.runName.contains("single") &&
      r.pipeline == rotate(Gen.AllPipelines, 0)).get
    val reads = Seq.fill(ReadMix.size / 2)(st.next() -> reader)
    val writes = Seq(Repost(single), Patch(single.runId, "warm"), Delete(single.runId))
      .map(_ -> writer)
    (reads ++ writes).map { case (op, c) => timed(op, c, l.model, send) }
  }

  /** Ops a timed loop issues at least: with two reads per writer op, the
    * first four writer ops, which are one of each write kind. A run of
    * fewer ops would leave out the slowest kinds, and how many it left out
    * would depend on the machine's speed, not the program's. */
  val MinOps = 12

  /** Closed loop of one client: the next op is sent when the previous
    * answer arrives, until `seconds` have passed and `MinOps` were sent. */
  def closedLoop(seconds: Double, model: Model, next: () => (Op, Client),
      send: (Op, Client) => (Int, String)): Seq[Sample] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = ArrayBuffer.empty[Sample]
    while (System.nanoTime() < deadline || out.size < MinOps) {
      val (op, c) = next()
      out += timed(op, c, model, send)
    }
    out.toSeq
  }

  /** Issue one op and judge the answer; only the call is timed. */
  def timed(op: Op, c: Client, model: Model, send: (Op, Client) => (Int, String)): Sample = {
    val t0 = System.nanoTime()
    val res = try Right(send(op, c)) catch { case e: Exception => Left(e) }
    Sample(op.cls, (System.nanoTime() - t0) / 1e6, judge(op, c, model, res))
  }

  /** Check an answer against the model and, when right, record the write. */
  def judge(op: Op, c: Client, model: Model, res: Either[Exception, (Int, String)]): Boolean =
    res match {
      case Left(e) =>
        System.err.println(s"$op failed: $e")
        false
      case Right((status, body)) =>
        val good = Ops.check(op, c, model, status, body)
        if (good) Ops.commit(op, model)
        else System.err.println(s"wrong answer to $op: $status ${body.take(300)}")
        good
    }

  def withShim[T](sentinel: Sentinel)(f: HttpSender => T): T = {
    val shim = new HttpShim(sentinel)
    val port = shim.start()
    try f(new HttpSender(port)) finally shim.stop()
  }

  /** Durability: a fresh `Sentinel` on the same root must list every run
    * the writer owns with its acknowledged name and unit counts, hold
    * exactly those runs' units, and answer 410 for every deleted run.
    * Returns (checks made, checks failed). */
  def durability(spark: SparkSession, l: Loaded): (Int, Int) = {
    val fresh = new Sentinel(spark, l.root)
    val model = l.model
    val c = l.clients.last
    val user = fresh.getUser(c.id).get
    val listed = fresh.getRuns(user).select(col("runId"), col("labels.runName"),
      col("nSamples"), col("nReadGroups")).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val mine = model.live.filter(_.owner == c.id)
    val unitCounts = Gen.StatsPipelines.flatMap { p =>
      Seq(Warehouse.samples(p), Warehouse.readGroups(p)).filter(fresh.warehouse.exists)
        .flatMap(t => fresh.warehouse.read(t).filter(col("uploaderId") === c.id)
          .groupBy("runId").count().collect().map(r => (t, r.getString(0)) -> r.getLong(1)))
    }.toMap
    val runs = mine.map { r =>
      val ok = listed.get(r.runId).contains((model.nameOf(r.runId), r.samples.size.toLong,
        r.readGroups.size.toLong)) &&
        unitCounts.getOrElse((Warehouse.samples(r.pipeline), r.runId), 0L) == r.samples.size &&
        unitCounts.getOrElse((Warehouse.readGroups(r.pipeline), r.runId), 0L) == r.readGroups.size
      if (!ok) System.err.println(s"durability: run ${r.runId} not as acknowledged")
      ok
    }
    val shim = new HttpShim(fresh)
    val gone = model.deletedIds.map { id =>
      val status =
        try { fresh.getRun(id, user); 200 } catch { case e: Exception => shim.statusOf(e) }
      if (status != 410) System.err.println(s"durability: deleted run $id answered $status")
      status == 410
    }
    val unitsOfOthers = unitCounts.keys.map(_._2).toSet -- mine.map(_.runId)
    if (listed.size != mine.size || unitsOfOthers.nonEmpty)
      System.err.println(s"durability: ${listed.size} runs listed, ${mine.size} acknowledged, " +
        s"${unitsOfOthers.size} unacknowledged runs with units")
    val all = runs ++ gone :+ (listed.size == mine.size && unitsOfOthers.isEmpty)
    (all.size, all.count(!_))
  }

  def rootUnder(work: String, name: String): String = Paths.get(work, name).toString
}
