package perfbench

import java.io.FileInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The benchmark's JVM side. `run.py` generates the inputs into a run
  * directory (`plan.properties` names them), launches this main, and turns
  * the `result.json` it writes into the final report.
  *
  * Usage: perfbench.Main <workload> <runDir> <trace 0|1>
  */
object Main {

  final case class Ctx(dir: Path, trace: Boolean, plan: java.util.Properties) {
    def str(k: String): String = Option(plan.getProperty(k))
      .getOrElse(sys.error(s"plan.properties lacks $k"))
    def int(k: String): Int = str(k).toInt
    def path(k: String): String = dir.resolve(str(k)).toString
  }

  /** What a workload reports: timed events as (due, done) pairs in ms
    * (run.py turns them into latencies), generator releases as (due,
    * released) pairs, scalars, per-layer metrics (traced run only),
    * failures and the correctness verdict. */
  final class Result {
    val events = mutable.LinkedHashMap.empty[String, Seq[(Double, Double)]]
    var releases: Seq[(Double, Double)] = Nil
    val scalars = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var readyEpochMs = 0L

    def fail(msg: String): Unit = { failed += 1; errors += msg.take(300) }
    def check(ok: Boolean, msg: => String): Unit = if (!ok) errors += msg.take(300)
  }

  val Cores = 4

  def session(cores: Int, dir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.streaming.checkpointLocation",
        dir.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.attach(spark.sparkContext)
    spark
  }

  /** The run directory `dir` with the parameters of its `plan.properties`. */
  def ctxAt(dir: Path, trace: Boolean): Ctx = {
    val plan = new java.util.Properties()
    val in = new FileInputStream(dir.resolve("plan.properties").toFile)
    try plan.load(in) finally in.close()
    Ctx(dir, trace, plan)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dirArg, traceArg) = args
    val dir = Paths.get(dirArg).toAbsolutePath
    val ctx = ctxAt(dir, traceArg == "1")
    val spark = session(Cores, dir)
    val res = new Result
    try {
      res.layers("tune.shuffle_partitions") =
        spark.conf.get("spark.sql.shuffle.partitions").toDouble
      workload match {
        case "catalog" => Catalog.run(spark, ctx, res)
        case "tweet_stream" => TweetStream.run(spark, ctx, res)
        case w => sys.error(s"unknown workload $w")
      }
      if (ctx.trace) {
        Trace.enabled = true
        try {
          Trace.span("functions", "functions") {
            Functions.measure(spark).foreach { case (k, v) => res.layers(k) = v }
          }
          if (workload == "tweet_stream") {
            // the index lifecycle runs after the measured phase, in the
            // traced run only; run.py reports it as `index.*`
            val index = new Result
            IndexServe.run(spark, ctxAt(dir.resolve("index"), trace = false), index)
            Files.writeString(dir.resolve("index/result.json"), Json.result(index), UTF_8)
          }
        } finally Trace.enabled = false
        if (workload == "tweet_stream") TweetStream.capacityOneCore(ctx, res)
      }
    } finally SparkSession.getActiveSession.foreach(_.stop())
    if (ctx.trace) writeSpans(dir.resolve("spans.jsonl"), Trace.all)
    Files.writeString(dir.resolve("result.json"), Json.result(res), UTF_8)
  }

  /** Marks the end of set-up and, in the traced run, brackets the
    * measured phase: spans and a fresh [[JobListener]] record from `ready()`
    * to `finish()`, so pre-roll and output checks stay out of the per-layer
    * numbers. */
  final class Phase(spark: SparkSession, ctx: Ctx, res: Result) {
    private var listener: JobListener = _
    private var t0 = 0L

    def ready(): Unit = {
      res.readyEpochMs = System.currentTimeMillis()
      if (ctx.trace) {
        listener = new JobListener
        spark.sparkContext.addSparkListener(listener)
        Trace.enabled = true
        t0 = System.nanoTime()
      }
    }

    def finish(): Unit = if (listener != null) {
      Trace.enabled = false
      spark.sparkContext.removeSparkListener(listener)
      listener.metrics((System.nanoTime() - t0) / 1e9, Cores)
        .foreach { case (k, v) => res.layers(k) = v }
      res.layers("trace.spans") = Trace.all.size.toDouble
      listener = null
    }
  }

  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"group":${Json.str(s.group)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(path, lines.asJava, UTF_8)
  }

  /** Schedule entry: at `dueMs` after the phase start, move `staged` into
    * the landing directory of `stream`. */
  final case class Release(dueMs: Long, stream: String, staged: Path)

  /** The open-loop load generator: one thread that moves each staged file
    * into its landing directory at its due time, whatever the system under
    * test is doing. A release that is late is made at once; the schedule
    * never shifts, so a stall is charged to the events behind it (their
    * latency counts from their due time). `released` logs each release as
    * (due, released) ms after the phase start. */
  final class Generator(releases: Seq[Release], landing: Map[String, Path],
      t0Ms: Double) {
    private val log = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
    private val thread = new Thread(() => {
      releases.sortBy(_.dueMs).foreach { r =>
        val wait = t0Ms + r.dueMs - nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        land(r.staged, landing(r.stream))
        log.add((r.dueMs.toDouble, nowMs() - t0Ms))
      }
    }, "perfbench-generator")
    thread.setDaemon(true)
    def start(): Unit = thread.start()
    def join(): Unit = thread.join()
    def released: Seq[(Double, Double)] = log.asScala.toSeq
  }

  /** Copy `staged` into `dir` under a hidden name, then rename it: the
    * file source never sees a partial file, and the staged copy stays for
    * a later pass. */
  def land(staged: Path, dir: Path): Unit = {
    val tmp = dir.resolve("." + staged.getFileName.toString)
    Files.copy(staged, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dir.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Staged files of a directory, in name order. */
  def staged(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq.sortBy(_.toString)

  /** The schedule file: one `due_ms<TAB>stream<TAB>staged path` per line,
    * in due order. */
  def schedule(ctx: Ctx, file: String): Seq[Release] =
    Files.readAllLines(ctx.dir.resolve(file), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(due, stream, staged) = line.split('\t')
        Release(due.toLong, stream, ctx.dir.resolve(staged))
      }.sortBy(_.dueMs)

  /** The `streaming.*` layer metrics from a query's progress reports. */
  def progressLayers(progress: Seq[StreamingQueryProgress], r: Result): Unit = {
    val ps = progress.filter(_.numInputRows > 0)
    def p50(key: String) = Stats.median(ps.map(_.durationMs.asScala.get(key)
      .map(_.doubleValue).getOrElse(0.0)))
    r.layers("streaming.batches") = ps.size.toDouble
    r.layers("streaming.trigger_p50_ms") = p50("triggerExecution")
    r.layers("streaming.add_batch_ms") = p50("addBatch")
    r.layers("streaming.plan_ms") = p50("queryPlanning")
    r.layers("streaming.offset_ms") = p50("latestOffset")
    r.layers("streaming.commit_ms") = p50("commitOffsets")
    r.layers("streaming.backlog_max_rows") = (0.0 +: ps.map(_.numInputRows.toDouble)).max
  }

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  /** Wall-clock epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def pairs(v: Seq[(Double, Double)]): String =
    v.map { case (a, b) => s"[${num(a)},${num(b)}]" }.mkString("[", ",", "]")

  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def result(r: Main.Result): String = obj(Seq(
    "attempted" -> r.attempted.toString,
    "failed" -> r.failed.toString,
    "ready_epoch_ms" -> r.readyEpochMs.toString,
    "errors" -> r.errors.map(str).mkString("[", ",", "]"),
    "events" -> obj(r.events.map { case (k, v) => k -> pairs(v) }),
    "releases" -> pairs(r.releases),
    "scalars" -> obj(r.scalars.map { case (k, v) => k -> num(v) }),
    "layers" -> obj(r.layers.map { case (k, v) => k -> num(v) })))
}
