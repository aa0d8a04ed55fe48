package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ml.TextClustering
import graft.sources.Tables
import graft.streaming.{FileTweetSource, StreamingCollector}
import graft.tweets.TweetSchema

import perfbench.Main.{Ctx, Result}

/** The `tweet_stream` workload: the paper's collect → SQL → cluster
  * pipeline.
  *
  *  - collect: the open-loop generator releases one JSON-lines file of
  *    statuses per tick into a landing directory; `StreamingCollector`
  *    reads it through `FileTweetSource` with no fixed trigger interval.
  *    Latency runs from a tweet's due time to the commit of the micro-batch
  *    that wrote its line.
  *  - capacity: a backlog larger than one tick is released at once into the
  *    same landing directory; the median over its micro-batches of lines
  *    committed per second of trigger time.
  *  - analyze: the collected table through `Tables.tweetText`, the README
  *    SQL, then bigram featurize, K-Means (k = 10, 20 iterations), predict.
  */
object TweetStream {

  private val Epoch = LocalDateTime.of(2017, 4, 1, 0, 0)
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** The tweet sequence number a collected line carries in `created_at`
    * (the generator stamps TWEET_EPOCH + seq seconds). */
  def seqOf(line: String): Long = {
    val ts = line.substring(line.lastIndexOf('|') + 1).stripSuffix(".0")
    java.time.Duration.between(Epoch, LocalDateTime.parse(ts, TsFormat)).getSeconds
  }

  def run(spark: SparkSession, ctx: Ctx, r: Result): Unit = {
    val perFile = ctx.int("per_file")
    val open = Main.schedule(ctx, "open.tsv")
    val phase = new Main.Phase(spark, ctx, r)
    val p = pass(spark, ctx, "run", open, phase)
    r.attempted += p.offered
    r.releases = p.released
    val due = open.map(_.dueMs).toIndexedSeq
    r.events("op") = p.openLines.flatMap { case (batch, line) =>
      p.commitMs.get(batch).map(c =>
        (due((seqOf(line) / perFile).toInt).toDouble, c - p.t0Ms))
    }
    r.scalars("throughput_per_s") = p.capacityTps
    // the analysis three times over the same table, each one timed: its
    // median is the reported time
    val runs = Seq.fill(3)(Main.time(analyze(spark, p.out, r)))
    val clusters = runs.head._1
    r.events("secondary") = runs.map { case (_, ms) => (0.0, ms) }
    phase.finish()

    // every line the batch pipeline derives from the landed files was
    // collected exactly once
    val expected = StreamingCollector.pipeline(
      spark.read.schema(TweetSchema.statusStruct).json(p.landing.toString))
      .collect().map(_.getString(0)).toSeq
    val lost = multisetDiff(expected, p.lines.map(_._2))
    val extra = multisetDiff(p.lines.map(_._2), expected)
    if (lost + extra > 0) {
      r.failed += lost + extra
      r.errors += s"collector lost $lost and duplicated $extra lines"
    }
    r.check(clusters == p.lines.size,
      s"cluster sizes sum to $clusters, collected ${p.lines.size}")
    r.check(p.openLines.nonEmpty && r.events("op").size == p.openLines.size,
      s"latency for ${r.events("op").size} of ${p.openLines.size} lines")

    r.layers("sources.collected_files") = Files.walk(p.out).iterator().asScala
      .count(f => f.getFileName.toString.startsWith("part-")).toDouble
    Main.progressLayers(p.query.recentProgress.toSeq, r)
  }

  /** The same capacity phase on `local[1]`: the single-threaded baseline.
    * Stops the current session. */
  def capacityOneCore(ctx: Ctx, res: Result): Unit = {
    SparkSession.active.stop()
    val spark = Main.session(1, ctx.dir)
    val p = pass(spark, ctx, "onecore", Nil,
      new Main.Phase(spark, ctx.copy(trace = false), new Result))
    res.layers("streaming.capacity_1core_tps") = p.capacityTps
    spark.stop()
  }

  final case class Pass(query: StreamingQuery, landing: Path, out: Path,
      t0Ms: Double, offered: Long, released: Seq[(Double, Double)],
      lines: Seq[(Long, String)], openLines: Seq[(Long, String)],
      commitMs: Map[Long, Double], capacityTps: Double)

  /** One collector over a fresh landing directory: the pre-roll files
    * (then one analysis of them, so the measured phase runs compiled code),
    * then the measured phase: `open` on its schedule and the capacity
    * backlog at once. */
  private def pass(spark: SparkSession, ctx: Ctx, name: String,
      open: Seq[Main.Release], phase: Main.Phase): Pass = {
    val landing = Files.createDirectories(ctx.dir.resolve(s"$name/landing"))
    val out = ctx.dir.resolve(s"$name/collected")
    val collector = new StreamingCollector(out.toString, Long.MaxValue)
    // at most `max_files_per_trigger` files per micro-batch: more than the
    // open loop delivers in one trigger, so only the backlog is split
    val q = collector.start(new FileTweetSource(landing.toString,
      Some(ctx.int("max_files_per_trigger"))).stream(spark))
    try {
      val warm = Main.staged(ctx.path("warmup_files"))
      warm.foreach(Main.land(_, landing))
      q.processAllAvailable()
      analyze(spark, out, new Result)
      val warmBatches = q.recentProgress.map(_.batchId).toSet
      phase.ready()
      val t0 = Main.nowMs() + 200
      val backlog = Main.staged(ctx.path("capacity_files"))
      val (gen, openBatches, tc) = Trace.span("collect", "streaming") {
        Trace.adopt(q.id)
        val gen = new Main.Generator(open, Map("tweets" -> landing), t0)
        gen.start()
        gen.join()
        q.processAllAvailable()
        val openBatches = q.recentProgress.map(_.batchId).toSet -- warmBatches
        val tc = Main.nowMs()
        backlog.foreach(Main.land(_, landing))
        q.processAllAvailable()
        q.stop()
        (gen, openBatches, tc)
      }
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      val durations = progress.map(pr =>
        pr.batchId -> pr.durationMs.get("triggerExecution").doubleValue).toMap
      val commitMs = progress.map(pr => pr.batchId ->
        (java.time.Instant.parse(pr.timestamp).toEpochMilli + durations(pr.batchId))).toMap
      val lines = Files.list(out).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("batch_"))
        .flatMap { d =>
          val b = d.getFileName.toString.stripPrefix("batch_").toLong
          Files.list(d).iterator().asScala.toSeq
            .filter(_.getFileName.toString.startsWith("part-"))
            .flatMap(f => Files.readAllLines(f, UTF_8).asScala.map(b -> _))
        }
      val openLines = lines.filter(l => openBatches(l._1))
      val capLines = lines.filter(l => !openBatches(l._1) && !warmBatches(l._1))
      // capacity: the median over the backlog's micro-batches of lines
      // committed per second of trigger time
      val capBatches = capLines.groupBy(_._1).toSeq
      val tps = Stats.median(capBatches.flatMap { case (b, ls) =>
        durations.get(b).filter(_ > 0).map(ls.size * 1000.0 / _) })
      val offered = (warm ++ open.map(_.staged) ++ backlog)
        .map(f => Files.readAllLines(f, UTF_8).size.toLong).sum
      Pass(q, landing, out, t0, offered, gen.released, lines, openLines,
        commitMs, tps)
    } finally if (q.isActive) q.stop()
  }

  /** The analysis stage over the collected table; returns the sum of the
    * K-Means cluster sizes. */
  private def analyze(spark: SparkSession, out: Path, r: Result): Long = {
    val path = s"$out/batch_*"
    val (n, readMs) = Main.time(Trace.span("tweet_read", "sources") {
      Tables.registerTwitterPresi(spark, path)
      spark.sql("SELECT count(*) FROM twitter_presi").head().getLong(0)
    })
    Trace.span("readme_sql", "sources") {
      spark.sql("SELECT text FROM twitter_presi WHERE latitude IS NOT NULL " +
        "LIMIT 10").collect()
      spark.table("twitter_presi").groupBy("text").count()
        .write.format("noop").mode("overwrite").save()
    }
    val (feats, featMs) = Main.time(Trace.span("featurize", "ml") {
      val f = TextClustering.featurize(spark.table("twitter_presi")
        .select(coalesce(col("text"), lit("")).as("text"))).persist()
      f.count(); f
    })
    try {
      val (model, fitMs) = Main.time(Trace.span("kmeans_fit", "ml") {
        TextClustering.fitKMeans(feats, k = 10, maxIter = 20)
      })
      val (sizes, predictMs) = Main.time(Trace.span("predict", "ml") {
        model.transform(feats).groupBy("prediction").count().collect()
          .map(_.getLong(1)).sum
      })
      r.check(n == sizes, s"table has $n rows, clusters $sizes")
      r.layers("sources.tweet_read_s") = readMs / 1000
      r.layers("ml.featurize_s") = featMs / 1000
      r.layers("ml.kmeans_fit_s") = fitMs / 1000
      r.layers("ml.predict_s") = predictMs / 1000
      sizes
    } finally { val _ = feats.unpersist() }
  }

  private def multisetDiff(a: Seq[String], b: Seq[String]): Long = {
    val counts = scala.collection.mutable.Map.empty[String, Long]
    b.foreach(s => counts(s) = counts.getOrElse(s, 0L) + 1)
    a.count { s =>
      val c = counts.getOrElse(s, 0L)
      if (c > 0) { counts(s) = c - 1; false } else true
    }.toLong
  }
}
