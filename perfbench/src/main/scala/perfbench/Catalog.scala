package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import perfbench.Main.{Ctx, Result}

/** The `catalog` workload: a closed loop with one client over registered
  * `graft.SparkEntry.queries` entries, each written to the `noop` sink.
  * The entry list and its seeded order come from `entries.txt`; each line is
  * `name<TAB>family`, the family naming the operator layer the entry calls.
  *
  * Set-up runs one untimed warm-up pass that writes every entry's output
  * as parquet under `out/<name>`; run.py checks those against the
  * committed digests. The timed phase then runs `passes` passes. */
object Catalog {

  def run(spark: SparkSession, ctx: Ctx, res: Result): Unit = {
    val entries = Files.readAllLines(ctx.dir.resolve("entries.txt"), UTF_8)
      .asScala.toSeq.filter(_.nonEmpty).map { l =>
        val Array(n, f) = l.split('\t'); (n, f) }
    val fixture = ctx.path("fixture")
    val passes = ctx.int("passes")
    val queries = graft.SparkEntry.queries
    val failedWarm = scala.collection.mutable.Set.empty[String]

    entries.foreach { case (name, _) =>
      try queries(name)(spark, fixture).write.mode("overwrite")
        .parquet(ctx.dir.resolve(s"out/$name").toString)
      catch {
        case e: Exception =>
          failedWarm += name
          res.errors += s"$name warm-up: ${e.toString.take(200)}"
      }
    }
    // the oracle SQL of the entries, for recording the expected digests
    val outAbs = ctx.dir.resolve("out").toString
    Files.writeString(ctx.dir.resolve("oracle_sql.json"), graft.SparkEntry.oracleSql
      .filter { case (n, _) => entries.exists(_._1 == n) }
      .map { case (n, q) => s"${Json.str(n)}:${Json.str(q.replace("{OUT}", outAbs))}" }
      .mkString("{", ",", "}"), UTF_8)
    val phase = new Main.Phase(spark, ctx, res)
    phase.ready()
    val perEntry = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val passMs = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val familyMs = scala.collection.mutable.Map.empty[String, Double]
    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e6
    (1 to passes).foreach { p =>
      val passStart = now
      entries.foreach { case (name, family) =>
        res.attempted += 1
        if (failedWarm(name)) res.failed += 1
        else {
          val start = now
          try {
            Trace.span(name, "operators", s"$name#$p") {
              queries(name)(spark, fixture).write.format("noop")
                .mode("overwrite").save()
            }
            val end = now
            perEntry += ((start, end))
            familyMs(family) = familyMs.getOrElse(family, 0.0) + end - start
          } catch { case e: Exception => res.fail(s"$name: $e") }
        }
      }
      passMs += ((passStart, now))
    }
    phase.finish()
    res.events("op") = perEntry.toSeq
    res.events("secondary") = passMs.toSeq
    val timedS = passMs.map { case (a, b) => b - a }.sum / 1000.0
    res.scalars("throughput_per_s") = if (timedS > 0) perEntry.size / timedS else 0.0
    Families.foreach { f =>
      res.layers(s"operators.${f}_s") = familyMs.getOrElse(f, 0.0) / 1000.0 / passes
    }
    res.layers("tune.shuffle_partitions") =
      spark.conf.get("spark.sql.shuffle.partitions").toDouble
  }

  val Families = Seq("dedup", "similarity", "pq", "bm25", "relational",
    "events", "text", "reference")
}
