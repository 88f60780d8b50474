package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded time-series rows whose keys keep increasing from batch to batch
  * and zigzag inside a batch, as the reference's writer does
  * (wd-test/RowKeyDistributorTestBase.java:142-144: 500, 499, 502, 497,
  * ...). Batch `b` holds `rowsPerBatch` positions around its centre
  * `c = 2·b·B + B`: `c + i` for even `i` and `c − i` for odd `i`. A key is
  * `t0 + 1000·position` (microseconds, one position per millisecond), so
  * every key, value and payload is a pure function of (seed, position),
  * which the checks recompute on the driver. */
final case class Series(seed: Long, rowsPerBatch: Int) {
  require(rowsPerBatch % 2 == 0, "rowsPerBatch must be even")
  val t0: Long = 1700000000000000L + seed * 1000000000L
  private val B = rowsPerBatch.toLong

  def key(pos: Long): Long = t0 + 1000L * pos

  def centre(b: Long): Long = 2 * b * B + B
  /** First position at or after which batch `b` may hold keys. */
  def batchStart(b: Long): Long = 2 * b * B
  def present(pos: Long, batches: Long): Boolean = pos >= 0 && {
    val b = pos / (2 * B)
    val d = pos - centre(b)
    b < batches && (if (d >= 0) d % 2 == 0 && d < B else (-d) % 2 == 1 && -d < B)
  }
  /** Positions of batch `b` in insertion (zigzag) order. */
  def batchPositions(b: Long): Array[Long] =
    Array.tabulate(rowsPerBatch)(i => if (i % 2 == 0) centre(b) + i else centre(b) - i)

  def value(pos: Long): Long = (pos * 7L + seed) % 1000L
  def payload(pos: Long): String =
    if ((pos + seed) % 13L == 0) "" else String.valueOf(('a' + (pos % 26L)).toChar) * (8 + (pos % 17L).toInt)

  /** Batch `b` as a DataFrame in zigzag order: key, series, v, s. */
  def batch(spark: SparkSession, b: Long): DataFrame = {
    val i = col("id")
    val p = when(i % 2 === 0, lit(centre(b)) + i).otherwise(lit(centre(b)) - i)
    spark.range(0, B, 1, 1).select(p.as("p"))
      .select(
        (lit(t0) + col("p") * 1000L).as("key"),
        (col("p") % 8L).cast("int").as("series"),
        ((col("p") * 7L + seed) % 1000L).as("v"),
        when((col("p") + seed) % 13L === 0, lit(""))
          .otherwise(repeat(chr(lit(97L) + col("p") % 26L), (lit(8L) + col("p") % 17L).cast("int")))
          .as("s"))
  }

  /** Uncompressed bytes of one row as the user hands it over: two longs,
    * one int and the payload's characters. */
  def userBytes(pos: Long): Long = 8 + 4 + 8 + payload(pos).length
}

/** A seeded synthetic corpus in the shape of graft.Scaling's generator:
  * documents of 40 to 80 space-separated words whose ranks are drawn
  * with a quadratic skew (u², a light Zipf head) from a vocabulary of
  * `vocab` words. Distinct documents share few 3-word shingles, so every
  * duplicate the screens confirm was planted. */
final class Corpus(seed: Long, vocab: Long) {
  private val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17L)
  private def token(): String = {
    val u = rng.nextDouble()
    "w" + (u * u * vocab).toLong
  }
  def doc(): String = Seq.fill(40 + rng.nextInt(41))(token()).mkString(" ")
  /** A junk tail that no corpus document contains. */
  def junk(id: Long, n: Int): String = (1 to n).map(i => s"qq${id}x$i").mkString(" ")
}

object Corpus {
  /** graft.Scaling's vocabulary size for a corpus of `n` documents. */
  def vocabulary(n: Long): Long = math.max(2000L, (4.0 * math.pow(n.toDouble, 0.75)).toLong)

  def tokens(text: String): Array[String] = text.split(" ").filter(_.nonEmpty)

  /** The library's shingle hash (Dedup.baseHash32 over 3-word shingles),
    * recomputed on the driver to verify the screens' verdicts. */
  def shingleSet(text: String): Set[Long] = {
    val w = tokens(text)
    if (w.length < 3) Set.empty
    else (0 to w.length - 3).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${w(i)} ${w(i + 1)} ${w(i + 2)}".getBytes("UTF-8"))
      ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) | ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
    }.toSet
  }

  def jaccard(a: Set[Long], b: Set[Long]): Double = {
    val i = (a intersect b).size
    i.toDouble / (a.size + b.size - i).toDouble
  }

  /** (doc_id, text, source) with 20 sources, as Scaling's refresh
    * families label theirs. */
  def docsFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text").withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(20L))))
  }

  /** (doc_id, x) distinct shingle-hash rows, the GramIndex set shape. */
  def sets(docs: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.shingleRows(docs.select("doc_id", "text"))
      .withColumn("x", graft.pipeline.Dedup.baseHash32(col("s")))
      .select("doc_id", "x").distinct()
}
