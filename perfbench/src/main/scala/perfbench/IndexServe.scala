package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity
import graft.streaming.AnnStream
import graft.util.Compaction

import perfbench.Main.{Ctx, Result}

/** The index lifecycle phase of the traced `tweet_stream` run: writes
  * beside reads on one standing IVF index built from seeded vectors.
  *
  *  - probe: open-loop query vectors through `AnnStream.ivfSearchQuery`;
  *    latency from a probe's due time to its top-k reaching the sink.
  *  - ingest: at the same time, open-loop vectors through
  *    `AnnStream.autoRetrainIngestQuery`, which appends and compacts when
  *    the corpus fragments; latency from a vector's due time to the sink
  *    row of the batch that folded it.
  *  - capacity: a backlog of vectors from another geometry released at once
  *    into the ingest stream, so the drift monitor fires a retrain while it
  *    is folded; vectors folded per second.
  *  - recall: a quiescent final probe set against the exact top-10.
  */
object IndexServe {

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
  val K = 10
  val Nprobe = 4
  val RecallFloor = 0.8

  def run(spark: SparkSession, ctx: Ctx, r: Result): Unit = {
    val open = Main.schedule(ctx, "open.tsv")
    val corpus = spark.read.parquet(ctx.path("corpus")).select("vec_id", "embedding")
      .persist()
    val nCorpus = corpus.count()
    val phase = new Main.Phase(spark, ctx, r)
    val p = pass(spark, ctx, "run", corpus, open, r, phase)
    val index = spark.read.parquet(s"${p.path}/corpus")
    val agg = index.agg(count(lit(1)), countDistinct(col("vec_id"))).head()
    val (rows, distinct) = (agg.getLong(0), agg.getLong(1))
    val want = nCorpus + p.ingested
    if (rows != distinct) {
      r.failed += rows - distinct
      r.errors += s"${rows - distinct} duplicate vec_ids"
    }
    if (distinct != want) {
      r.failed += math.abs(want - distinct)
      r.errors += s"index holds $distinct vectors, want $want"
    }
    val recall = Trace.span("recall", "index") { recallAt10(spark, ctx, p.path) }
    phase.finish()
    r.check(recall >= RecallFloor, f"recall@10 $recall%.3f below $RecallFloor")
    r.layers("index.recall_at_10") = recall
    r.layers("index.files") = Compaction.dataFileCount(spark, s"${p.path}/corpus").toDouble
    val bytes = Files.walk(java.nio.file.Paths.get(s"${p.path}/corpus")).iterator()
      .asScala.filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    r.layers("index.bytes_per_vec") = if (rows > 0) bytes.toDouble / rows else 0.0
    corpus.unpersist()
  }

  final case class Pass(path: String, ingested: Long)

  /** Build an index over `corpus` and start the serve and ingest loops on
    * it; pre-roll files through both, then the measured phase: probes and
    * ingest on `open`'s schedule, then the capacity backlog into the ingest
    * loop. */
  private def pass(spark: SparkSession, ctx: Ctx, name: String, corpus: DataFrame,
      open: Seq[Main.Release], r: Result, phase: Main.Phase): Pass = {
    import spark.implicits._
    val base = Files.createDirectories(ctx.dir.resolve(name))
    val path = base.resolve("index").toString
    val (_, buildMs) = Main.time(Trace.span("build", "index", name) {
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, nlist = 16), path)
    })
    r.layers("index.build_s") = buildMs / 1000
    val centers = Similarity.loadIvfIndex(spark, path).centers
    val healthy = healthMicros(
      corpus.as[(Long, Seq[Float])].collect().map(_._2).toSeq, centers)
    // the alarm fires once the drifted backlog has pulled the corpus-weighted
    // mean cosine 0.1 below the corpus's own
    val monitor = AnnStream.prepareRetrainMonitor(spark, path,
      healthFloorMicros = healthy - 100000, minVecsForAlarm = ctx.int("min_vecs_for_alarm"),
      autoCompactMaxFiles = Some(ctx.int("compact_max_files").toLong))

    val ingestDir = Files.createDirectories(base.resolve("ingest"))
    val probeDir = Files.createDirectories(base.resolve("probe"))
    val probeDone = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    // (batch id, vectors, retrained, folded at, corpus data files)
    val folds = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Boolean, Double, Long)]()
    val perIngest = ctx.int("ingest_per_file")

    // each loop submits its jobs in its own fair-scheduler pool (a query's
    // thread inherits the pool property set when it starts), so one loop's
    // big jobs do not queue the other's behind them
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "ingest")
    val ingest = AnnStream.autoRetrainIngestQuery(
      spark.readStream.schema(VecSchema).json(ingestDir.toString), monitor) { (row, batchId) =>
      val rows = row.select("batch_vecs", "retrained").collect()
      val now = Main.nowMs()
      val files = Compaction.dataFileCount(spark, s"$path/corpus")
      rows.foreach(x => folds.add((batchId, x.getLong(0), x.getBoolean(1), now, files)))
    }.option("checkpointLocation", base.resolve("ingest_ckpt").toString).start()
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "probe")
    val probe = AnnStream.ivfSearchQuery(
      spark.readStream.schema(VecSchema).json(probeDir.toString), path, k = K,
      nprobe = Nprobe) { (topk, _) =>
      val ids = topk.select("query_id").distinct().collect().map(_.getLong(0))
      val now = Main.nowMs()
      ids.foreach(id => probeDone.putIfAbsent(id, now))
    }.start()
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    try {
      val warmIngest = Main.staged(ctx.path("warmup_files"))
      val warmProbe = Main.staged(ctx.path("warmup_probe_files"))
      warmIngest.foreach(Main.land(_, ingestDir))
      warmProbe.foreach(Main.land(_, probeDir))
      ingest.processAllAvailable()
      probe.processAllAvailable()
      val warmBatches = folds.asScala.map(_._1).toSet
      phase.ready()
      val t0 = Main.nowMs() + 200
      val backlog = Main.staged(ctx.path("capacity_files"))
      val (gen, openBatches, tc) = Trace.span("serve", "streaming") {
        Trace.adopt(ingest.id)
        Trace.adopt(probe.id)
        val gen = new Main.Generator(open, Map("ingest" -> ingestDir, "probe" -> probeDir), t0)
        gen.start()
        gen.join()
        ingest.processAllAvailable()
        probe.processAllAvailable()
        probe.stop()
        val openBatches = folds.asScala.map(_._1).toSet -- warmBatches
        val tc = Main.nowMs()
        backlog.foreach(Main.land(_, ingestDir))
        ingest.processAllAvailable()
        ingest.stop()
        (gen, openBatches, tc)
      }

      val foldList = folds.asScala.toSeq
      val foldAt = foldList.map(f => f._1 -> f._4).toMap
      val capFolds = foldList.filterNot(f => openBatches(f._1) || warmBatches(f._1))
      val capEnd = (tc +: capFolds.map(_._4)).max
      r.scalars("throughput_per_s") =
        if (capEnd > tc) capFolds.map(_._2).sum * 1000.0 / (capEnd - tc) else 0.0
      r.releases = gen.released

      val probeLat = mutable.ArrayBuffer.empty[(Double, Double)]
      open.filter(_.stream == "probe").foreach { rel =>
        vecIds(rel.staged).foreach { id =>
          Option(probeDone.get(id)) match {
            case Some(t) => probeLat += ((rel.dueMs.toDouble, t - t0))
            case None => r.fail(s"probe $id got no top-k")
          }
        }
      }
      val ingestDue = open.filter(_.stream == "ingest")
        .map(x => x.staged.getFileName.toString -> x.dueMs).toMap
      val ingestLat = mutable.ArrayBuffer.empty[(Double, Double)]
      fileBatches(base.resolve("ingest_ckpt")).foreach { case (file, batch) =>
        (ingestDue.get(file), foldAt.get(batch)) match {
          case (Some(d), Some(t)) => ingestLat ++= Seq.fill(perIngest)((d.toDouble, t - t0))
          case _ =>
        }
      }
      r.check(ingestLat.size == ingestDue.size * perIngest,
        s"ingest latency for ${ingestLat.size} of ${ingestDue.size * perIngest} vectors")
      r.attempted += (warmIngest ++ warmProbe ++ open.map(_.staged) ++ backlog)
        .map(f => vecIds(f).size.toLong).sum
      r.events("op") = probeLat.toSeq
      r.events("secondary") = ingestLat.toSeq

      // a drop in the corpus data-file count that no retrain explains is
      // an auto-compaction
      val byBatch = foldList.sortBy(_._1)
      r.layers("index.retrains") = foldList.count(_._3).toDouble
      r.layers("index.compactions") = byBatch.zip(byBatch.drop(1))
        .count { case (a, b) => b._5 < a._5 && !b._3 }.toDouble
      val ingestProgress = ingest.recentProgress.filter(_.numInputRows > 0).toSeq
      r.layers("index.ingest_trigger_ms") = Stats.median(ingestProgress.map(
        _.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0)))
      Main.progressLayers(ingestProgress ++ probe.recentProgress.toSeq, r)
      Pass(path, foldList.map(_._2).sum)
    } finally {
      if (probe.isActive) probe.stop()
      if (ingest.isActive) ingest.stop()
    }
  }

  /** The vec_ids of a staged JSON-lines vector file. */
  private def vecIds(f: Path): Seq[Long] =
    Files.readAllLines(f, UTF_8).asScala.toSeq.filter(_.nonEmpty)
      .map(l => l.substring(l.indexOf(':') + 1, l.indexOf(',')).trim.toLong)

  /** file name → micro-batch id, from the file source's metadata log in the
    * query checkpoint (`sources/0/<batch>` and its `.compact` files: a
    * version line, then one JSON entry per file). */
  private def fileBatches(ckpt: Path): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    Files.list(ckpt.resolve("sources/0")).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f, UTF_8).asScala.drop(1))
      .collect { case entry(p, b) => p.substring(p.lastIndexOf('/') + 1) -> b.toLong }
      .toMap
  }

  /** The drift monitor's health arithmetic: mean cosine (in micros) of each
    * vector to its nearest center by squared L2. */
  def healthMicros(vecs: Seq[Seq[Float]], centers: Array[Array[Double]]): Long = {
    def dot(a: Array[Double], b: Array[Double]) = a.indices.map(i => a(i) * b(i)).sum
    val cos = vecs.map { e =>
      val v = e.map(_.toDouble).toArray
      val c = centers.minBy { c => val d = v.indices.map(i => v(i) - c(i)); dot(d.toArray, d.toArray) }
      dot(v, c) / math.sqrt(dot(v, v) * dot(c, c))
    }
    (cos.sum / cos.size * 1e6).toLong
  }

  /** Mean share of the exact top-10 (cosine) that the standing IVF probe
    * returns, over the recall probe set. */
  private def recallAt10(spark: SparkSession, ctx: Ctx, path: String): Double = {
    import spark.implicits._
    val queries = spark.read.schema(VecSchema).json(ctx.path("recall")).persist()
    val approx = Similarity.queryStandingIvf(Similarity.prepareIvfIndex(spark, path),
      queries, K, Nprobe).select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupMap(_._1)(_._2)
    val all = spark.read.parquet(s"$path/corpus").select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, e) => (id, normalize(e)) }
    val qs = queries.as[(Long, Seq[Float])].collect()
    queries.unpersist()
    val hits = qs.map { case (qid, e) =>
      val q = normalize(e)
      val exact = all.map { case (id, v) =>
        var d = 0.0; var i = 0
        while (i < v.length) { d += q(i) * v(i); i += 1 }
        (id, d)
      }.sortBy(-_._2).take(K).map(_._1).toSet
      approx.getOrElse(qid, Array.empty[Long]).count(exact.contains(_))
    }
    hits.sum.toDouble / (K * qs.length)
  }

  private def normalize(e: Seq[Float]): Array[Double] = {
    val n = math.sqrt(e.map(x => x.toDouble * x).sum)
    e.map(_ / n).toArray
  }
}
