package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Sanitize, TextExpressions, VectorExpressions}

/** The `functions.*` layer: rows per second of one public Column function
  * of `graft.functions`, timed around a `noop` write of a projection over a
  * fixed, cached input (the same rows in every run). Each function gets one
  * untimed write, then the median of three timed ones. */
object Functions {

  val Rows = 20000
  private val Dim = 32
  private val Subspaces = 8
  private val Codes = 16

  def measure(spark: SparkSession): Seq[(String, Double)] = {
    val words = array("the a data spark stream query row fast slow small big group customer line sort hash batch filter value key order table scan merge part window join agg column vector"
      .split(' ').map(lit).toIndexedSeq: _*)
    def text(salt: Int): Column = concat_ws(" ", transform(sequence(lit(1), lit(40)),
      i => element_at(words, (pmod(xxhash64(col("id"), i, lit(salt)), lit(30L)) + 1).cast("int"))))
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(16, Dim)(rnd.nextGaussian())
    val codebooks = Array.fill(Subspaces, Codes, Dim / Subspaces)(rnd.nextGaussian())
    val dtab = typedLit(Seq.fill(Subspaces * Codes)(rnd.nextDouble()))
    val emb = transform(sequence(lit(1), lit(Dim)),
      i => ((pmod(xxhash64(col("id"), i), lit(2000L)) - 1000) / 1000.0).cast("float"))

    val input = spark.range(Rows).select(
      text(1).as("text"), text(2).as("other"), emb.as("embedding"))
      .select(col("*"),
        TextExpressions.charShinglesSorted(col("text"), 5).as("sa"),
        TextExpressions.charShinglesSorted(col("other"), 5).as("sb"),
        VectorExpressions.pqCodes(col("embedding"), codebooks).as("codes"))
      .persist()
    input.count()
    try Seq(
      "functions.minhash_rows_s" -> TextExpressions.minhashSignature(col("text"), 5, 64),
      "functions.shingles_sorted_rows_s" -> TextExpressions.charShinglesSorted(col("text"), 5),
      "functions.sorted_intersect_rows_s" -> TextExpressions.sortedIntersectSize(col("sa"), col("sb")),
      "functions.pq_adc_rows_s" -> VectorExpressions.pqAdc(col("codes"), dtab, Codes),
      "functions.probe_cells_rows_s" -> VectorExpressions.probeCells(col("embedding"), centers, 4),
      "functions.sanitize_rows_s" -> Sanitize.sanitize(col("text"))
    ).map { case (name, fn) => name -> rowsPerSecond(input, fn) }
    finally { val _ = input.unpersist() }
  }

  private def rowsPerSecond(input: DataFrame, fn: Column): Double = {
    def write(): Double = Main.time(input.select(fn.as("out")).write.format("noop")
      .mode("overwrite").save())._2
    write()
    Rows / (Stats.median(Seq.fill(3)(write())) / 1000.0)
  }
}
