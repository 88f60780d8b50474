package perfbench

import graft.keys.{HashPrefix, Salt}
import graft.scan.DistributedScan
import graft.store.SaltedStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Outcome of one closed-loop operation: its kind, the rows or documents
  * it handled, and every output check that failed. */
final case class OpResult(kind: String, items: Long, failures: Seq[String])

/** A workload owns its inputs, its stores under `work`, and a driver-side
  * model of what the stores hold, against which every output is checked. */
abstract class Workload(val seed: Long, val work: String) {
  protected var spark: SparkSession = _
  protected val rng = new java.util.SplittableRandom(seed)

  /** Builds the inputs and stores on a fresh session. */
  def setup(s: SparkSession, tr: Tracer): Unit
  /** Untimed operations run after set-up, so that the timed ones find
    * the code paths compiled and the caches filled. */
  def warmupOps: Int
  /** Timed operations come in whole groups of this many: a phase runs past
    * its time budget to complete the group, so that every run times the
    * same mix of operation kinds and at least this many operations. */
  def opGroup: Int
  def op(i: Int, tr: Tracer): OpResult
  /** Bytes the stores occupy on disk. */
  def storeBytes: Long
  /** Bytes of user data the stores hold. */
  def userBytes: Long
  def spaceAmp: Double = storeBytes.toDouble / userBytes
  /** Sizes and settings, recorded next to the metrics. */
  def sizes: Map[String, Any]

  protected def col(n: String) = org.apache.spark.sql.functions.col(n)
}

object Workload {
  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "ts_scan"        => new TsScan(seed, work)
    case "corpus_refresh" => new graft.perfbench.CorpusRefresh(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def diskBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => diskBytes(c.getPath)).sum).getOrElse(0L)
  }

  /** Data files in the `bucket=` directories, counted as needsCompaction does. */
  def dataFiles(path: String): Int =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .map(_.listFiles().count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))).sum
}

/** Checks one ordered scan result against the expected positions. */
private object ScanCheck {
  def rows(what: String, got: Array[Row], want: Seq[Long], ts: Series): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    if (got.length != want.length) out += s"$what: ${got.length} rows, expected ${want.length}"
    var prev = Long.MinValue
    got.iterator.zip(want.iterator).zipWithIndex.foreach { case ((r, p), i) =>
      val k = r.getLong(0)
      if (out.size < 3) {
        if (k <= prev) out += s"$what: key $k at row $i does not ascend"
        else if (k != ts.key(p)) out += s"$what: row $i has key $k, expected ${ts.key(p)}"
        else if (r.getLong(1) != ts.value(p) || r.getString(2) != ts.payload(p))
          out += s"$what: row $i (key $k) has wrong value or payload"
      }
      prev = k
    }
    out.toSeq
  }
}

/** ts_scan: read-only traffic over a salted store of zigzag time-series
  * batches under HashPrefix(16). Set-up ingests the store: one write of
  * the older batches, then the newest batches as appends, with the
  * store's own compaction policy, so buckets hold several files as a
  * live store's do. Reads favour recent keys, as dashboards do. The mix
  * is a fixed cycle of operation kinds; the seed picks their keys. */
final class TsScan(seed: Long, work: String) extends Workload(seed, work) {
  val RowsPerBatch = 20000
  val Batches = 5L
  val AppendedBatches = 2L
  val dist = HashPrefix(16)
  val Cycle: Vector[String] = Vector("range_narrow", "point_get_hit", "range_wide", "point_get_miss",
    "range_narrow", "range_from", "point_get_hit", "ordered_iterator", "count_non_empty", "window")
  val warmupOps: Int = Cycle.length
  val opGroup: Int = Cycle.length
  private val ts = Series(seed, RowsPerBatch)
  private val path = s"$work/ts_store"
  private val maxPos = ts.batchStart(Batches)
  private var user = 0L
  private var nonEmpty = 0L

  def sizes: Map[String, Any] = Map(
    "rows" -> Batches * RowsPerBatch, "appended_batches" -> AppendedBatches,
    "rows_per_batch" -> RowsPerBatch, "buckets" -> dist.numBuckets,
    "compaction" -> "SaltedStore.needsCompaction (maxFiles 4) then SaltedStore.compact, defaults",
    "op_cycle" -> Cycle.mkString(","), "warmup_ops" -> warmupOps, "op_group" -> opGroup,
    "range_narrow_positions" -> 1000, "range_wide_positions" -> 16000,
    "ordered_iterator_positions" -> 4000, "window_positions" -> 8000)

  def setup(s: SparkSession, tr: Tracer): Unit = {
    spark = s
    val base = (0L until Batches - AppendedBatches).map(b => ts.batch(s, b)).reduce(_ union _)
    tr.span("store.salted_write")(SaltedStore.write(base, col("key"), dist, path))
    (Batches - AppendedBatches until Batches).foreach { b =>
      val batch = ts.batch(s, b)
      val (bytesBefore, filesBefore) = if (tr.enabled) (Workload.diskBytes(path), Workload.dataFiles(path)) else (0L, 0)
      tr.span("store.salted_write") {
        SaltedStore.write(batch, col("key"), dist, path, mode = "append")
        if (tr.enabled) {
          tr.count("bytes_written", (Workload.diskBytes(path) - bytesBefore).toDouble)
          tr.count("files_written", (Workload.dataFiles(path) - filesBefore).toDouble)
          tr.count("user_bytes", ts.batchPositions(b).map(ts.userBytes).sum.toDouble)
        }
      }
      if (tr.enabled) keyAlgebra(batch, tr).foreach(f => throw new IllegalStateException(f))
      if (SaltedStore.needsCompaction(s, path)) tr.span("store.salted_compact")(SaltedStore.compact(s, path, col("key")))
    }
    val all = (0L until Batches).flatMap(b => ts.batchPositions(b))
    user = all.map(ts.userBytes).sum
    nonEmpty = all.count(p => ts.payload(p).nonEmpty).toLong
  }

  /** Traced run only: the salt and unsalt expressions over an appended
    * batch, each forced by its own job, checked to round-trip every key. */
  private def keyAlgebra(batch: DataFrame, tr: Tracer): Option[String] = {
    val salted = tr.span("keys.salt") {
      tr.count("rows", RowsPerBatch)
      dist.withBucket(batch, col("key"))
        .select(col("key"), Salt.saltedKey(col("bucket"), col("key"), dist.prefixLength).as("sk"))
        .localCheckpoint()
    }
    val bad = tr.span("keys.unsalt") {
      tr.count("rows", RowsPerBatch)
      salted.agg(sum(when(Salt.originalKey(col("sk"), dist.prefixLength) === col("key"), 0L).otherwise(1L)))
        .head().getLong(0)
    }
    salted.unpersist()
    if (bad == 0) None else Some(s"unsalt(salt(key)) differs from key on $bad rows")
  }

  /** Recency draws per cycle (two narrow and one wide range scan, the
    * ordered iterator and the window): each cycle's draws cover the
    * distribution's quantiles once, so that every run reads old and new
    * keys in the same proportions and the seed only jitters positions. */
  private val Strata = 5
  private var draws = 0

  /** A start position skewed towards the newest keys: exponential, with a
    * mean of 1/8 of the key span, sampled by stratum. The strata rotate
    * from cycle to cycle, so each kind reads every age over a run. */
  private def recentStart(width: Long): Long = {
    val stratum = (draws + draws / Strata) % Strata
    draws += 1
    val u = (stratum + rng.nextDouble()) / Strata
    val back = (-math.log(1.0 - u) * maxPos / 8).toLong
    math.max(0L, maxPos - width - back)
  }
  private def present(from: Long, until: Long): Seq[Long] =
    (from until until).filter(p => ts.present(p, Batches))

  private def rangeOp(kind: String, width: Long, tr: Tracer, table: DataFrame): OpResult = {
    val from = recentStart(width)
    val got = tr.span("scan.range") {
      val rows = DistributedScan.rangeScan(table, col("key"), ts.key(from), ts.key(from + width))
        .select("key", "v", "s").collect()
      tr.count("rows_returned", rows.length.toDouble)
      rows
    }
    OpResult(kind, got.length, ScanCheck.rows(s"$kind [$from, ${from + width})", got, present(from, from + width), ts))
  }

  def op(i: Int, tr: Tracer): OpResult = {
    val kind = Cycle(i % Cycle.length)
    val table = tr.span("store.salted_read")(SaltedStore.read(spark, path))
    kind match {
      case "range_narrow" => rangeOp(kind, 1000, tr, table)
      case "range_wide"   => rangeOp(kind, 16000, tr, table)
      case "range_from" =>
        val from = maxPos - 600 - rng.nextInt(2000)
        val got = tr.span("scan.range_from") {
          DistributedScan.rangeScanFrom(table, col("key"), ts.key(from)).select("key", "v", "s").collect()
        }
        OpResult(kind, got.length, ScanCheck.rows(s"range_from $from", got, present(from, maxPos), ts))
      case "point_get_hit" | "point_get_miss" =>
        val b = math.max(0L, Batches - 1 - (-math.log(1.0 - rng.nextDouble()) * 2).toLong)
        val j = 2L * rng.nextInt(RowsPerBatch / 2) + (if (kind == "point_get_hit") 0L else 1L)
        val p = ts.centre(b) + j // even offsets above the centre exist, odd ones never do
        val got = tr.span("scan.point_get") {
          DistributedScan.pointGet(table, col("key"), ts.key(p), dist).select("key", "v", "s").collect()
        }
        val want = if (kind == "point_get_hit") Seq(p) else Nil
        OpResult(kind, got.length, ScanCheck.rows(s"$kind ${ts.key(p)}", got, want, ts))
      case "ordered_iterator" =>
        val from = recentStart(4000)
        val t0 = System.nanoTime()
        val got = tr.span("scan.ordered_iterator") {
          val it = DistributedScan.orderedIterator(table.select("key", "v", "s"), col("key"), ts.key(from), ts.key(from + 4000))
          val buf = mutable.ArrayBuffer.empty[Row]
          if (it.hasNext) {
            buf += it.next()
            tr.count("first_row_ms", (System.nanoTime() - t0) / 1e6)
          }
          buf ++= it
          buf.toArray
        }
        OpResult(kind, got.length, ScanCheck.rows(s"ordered_iterator $from", got, present(from, from + 4000), ts))
      case "count_non_empty" =>
        val n = tr.span("scan.count_non_empty")(DistributedScan.countNonEmpty(table, col("s")).head().getLong(0))
        OpResult(kind, 1, if (n == nonEmpty) Nil else Seq(s"countNonEmpty $n, expected $nonEmpty"))
      case "window" => windowOp(tr, table)
    }
  }

  /** An ordered range scan under one global window node mixing four
    * families, reduced by an aggregate that must match the model. */
  private def windowOp(tr: Tracer, table: DataFrame): OpResult = {
    val width = 8000L
    val from = recentStart(width)
    val w = Window.orderBy("key")
    val r = tr.span("plans.global_window") {
      DistributedScan.rangeScan(table, col("key"), ts.key(from), ts.key(from + width))
        .select(col("key"), col("v"),
          row_number().over(w).as("rn"),
          sum("v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("rsum"),
          lag("v", 1).over(w).as("lg"),
          avg("v").over(w.rowsBetween(-2, Window.currentRow)).as("savg"))
        .agg(count(lit(1)), sum("rn"), max("rsum"), coalesce(sum("lg"), lit(0L)), sum("savg"))
        .head()
    }
    val vs = present(from, from + width).map(ts.value)
    val n = vs.length.toLong
    val total = vs.sum
    val lagSum = if (vs.isEmpty) 0L else total - vs.last
    val savg = vs.indices.map { k => val f = vs.slice(math.max(0, k - 2), k + 1); f.sum.toDouble / f.length }.sum
    val fails = mutable.ArrayBuffer.empty[String]
    if (r.getLong(0) != n) fails += s"window: ${r.getLong(0)} rows, expected $n"
    else if (n > 0) {
      if (r.getLong(1) != n * (n + 1) / 2) fails += "window: row_number does not number rows 1..n"
      if (r.getLong(2) != total) fails += s"window: final running sum ${r.getLong(2)}, plain sum $total"
      if (r.getLong(3) != lagSum) fails += s"window: sum of lag ${r.getLong(3)}, expected $lagSum"
      if (math.abs(r.getDouble(4) - savg) > 1e-6 * math.max(1.0, savg)) fails += s"window: sliding avg sum ${r.getDouble(4)}, expected $savg"
    }
    OpResult("window", n, fails.toSeq)
  }

  def storeBytes: Long = Workload.diskBytes(path)
  def userBytes: Long = user
}
