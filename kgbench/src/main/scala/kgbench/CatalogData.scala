package kgbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** The catalog tables: `documents` and `embeddings` drawn from the seed
  * the way `tools/gen_sf1.py` draws them (every row a pure function of
  * seed and row index), and the read-only sf0.1 `events` table
  * (`kgbench/data/events.parquet`, a byte copy), of which the seed picks
  * one residue class of `event_id`.
  */
object CatalogData {

  /** The 31-word vocabulary of the sf0.1 documents table. */
  val vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  val langs: Array[String] = Array("en", "zh", "es", "fr", "de")
  val langCum: Array[Double] = Array(0.41, 0.56, 0.71, 0.86, 1.0)

  final case class Sizes(docs: Long, vectors: Long)
  def sizes(o: Opts): Sizes = if (o.tiny) Sizes(600, 300) else Sizes(1250, 500)

  private def rnd(seed: Long, table: Int, i: Long) = new Random(seed * 1000003L + table * 7919L + i)

  /** 10 to 100 words; one doc in 500 repeats the text of the doc seven
    * ids earlier (sf0.1 holds 8 exact duplicates in 5,000 docs).
    */
  def text(seed: Long, i: Long): String = {
    val src = if (i % 500 == 499) i - 7 else i
    val r = rnd(seed, 1, src)
    val n = 10 + r.nextInt(91)
    Array.fill(n)(vocab(r.nextInt(vocab.length))).mkString(" ")
  }

  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { i =>
      val t = text(seed, i)
      val r = rnd(seed, 2, i)
      val u = r.nextDouble()
      (i, t, langs(langCum.indexWhere(u < _)), s"src${r.nextInt(20)}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val cr = rnd(seed, 3, -1)
    val centers = Array.fill(10) {
      val c = Array.fill(64)(cr.nextGaussian())
      val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / norm * 0.07)
    }
    spark.range(n).map { i =>
      val r = rnd(seed, 4, i)
      val label = r.nextInt(10)
      val v = Array.tabulate(64)(d => (centers(label)(d) + r.nextGaussian() * 0.125).toFloat)
      (i, v.toSeq, label)
    }.toDF("vec_id", "embedding", "label")
  }

  /** The sf0.1 events whose `event_id` is congruent to the seed modulo
    * `stride`: a quarter of the table (a sixteenth at the smallest size),
    * every user, event type and day of it.
    */
  def events(spark: SparkSession, o: Opts): DataFrame = {
    val stride = if (o.tiny) 16L else 4L
    spark.read.parquet(o.eventsFile).filter(col("event_id") % stride === Math.floorMod(o.seed, stride))
  }

  /** Write the three tables as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, o: Opts, dir: String): Unit = {
    val s = sizes(o)
    documents(spark, o.seed, s.docs).coalesce(1).write.parquet(s"$dir/documents.parquet")
    embeddings(spark, o.seed, s.vectors).coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    events(spark, o).coalesce(1).write.parquet(s"$dir/events.parquet")
  }
}
