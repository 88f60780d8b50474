package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CumeDist, DenseRank, Literal, NamedExpression, NTile, PercentRank, Rank, RowNumber, UnsafeRow, WindowExpression}
import org.apache.spark.sql.types.IntegerType

/** The six ranking functions — row_number, rank, dense_rank,
  * percent_rank, cume_dist, ntile — the classic scale-killer of plain
  * SQL (`row_number() OVER (ORDER BY ...)`), and top-N-per-key, the
  * dedup primitive, under PARTITION BY.
  *
  * A tie run never spans tasks: the range exchange routes a row by its
  * FULL sort key, so equal keys land in one partition. So every value
  * is a local count plus an offset from the tasks before:
  *   row_number   = rowsBefore + localIdx + 1
  *   rank         = rowsBefore + tieRunStart + 1
  *   dense_rank   = runsBefore + localDense
  *   percent_rank = (rank − 1) / (N − 1)
  *   cume_dist    = (rowsBefore + tieRunEnd + 1) / N
  *   ntile(k)     = WindowExec's bucket of (rowsBefore + localIdx) in N
  * Per key the counters reset at each group, the first group is seeded
  * by its chain (the rows and tie runs of its slices in earlier tasks),
  * and N is the group's total: the chain total for edge groups, the
  * group's own length for interior ones. Rows wait only for what they
  * need: cume_dist for the end of its tie run, the per-key N-functions
  * in a non-first group for the end of the group.
  *
  * row_number/rank/dense_rank/ntile are IntegerType as in WindowExec,
  * which silently wraps past 2^31: global ranks over more rows are
  * refused at the driver, before any output work; per-key ranks are
  * refused there when a task-crossing group is that large, and by
  * `toIntExact` per row otherwise.
  */
private[plans] object RankFamily {
  sealed trait RankFunc extends Serializable
  case object RowNumF extends RankFunc
  case object RankF extends RankFunc
  case object DenseRankF extends RankFunc
  case object PercentRankF extends RankFunc
  case object CumeDistF extends RankFunc
  case class NTileF(buckets: Int) extends RankFunc

  case class RankCol(f: RankFunc, attr: Attribute)
  case class RankSeed(rows: Long, runs: Long, firstTotal: Long, lastTotal: Long)

  def member(e: NamedExpression): Option[RankCol] = (e match {
    case Alias(WindowExpression(_: RowNumber, _), _) => Some(RowNumF)
    case Alias(WindowExpression(_: Rank, _), _) => Some(RankF)
    case Alias(WindowExpression(_: DenseRank, _), _) => Some(DenseRankF)
    case Alias(WindowExpression(_: PercentRank, _), _) => Some(PercentRankF)
    case Alias(WindowExpression(_: CumeDist, _), _) => Some(CumeDistF)
    case Alias(WindowExpression(NTile(Literal(n: Int, IntegerType)), _), _) if n > 0 =>
      Some(NTileF(n))
    case _ => None
  }).map(RankCol(_, e.toAttribute))
}

private[plans] case class RankFamily(funcs: Seq[RankFamily.RankCol], keyed: Boolean)
    extends WindowFamily {
  import RankFamily._
  type Part = Long // tie runs in the task's last group
  type Seed = RankSeed

  def name: String = "GlobalRowNumber"
  def attrs: Seq[Attribute] = funcs.map(_.attr)
  private def modes = funcs.map(_.f).toArray
  private def needKeys = modes.exists {
    case RowNumF | _: NTileF => false
    case _ => true
  }
  private def lookahead = modes.contains(CumeDistF)
  private def needTotals = keyed && modes.exists {
    case PercentRankF | CumeDistF | _: NTileF => true
    case _ => false
  }
  override def tieRuns: Boolean = needKeys
  override def streams: Boolean = !lookahead && !needTotals

  def fold(in: Seq[Attribute]): Fold[Long] = new Fold[Long] {
    private var runs = 0L
    def row(r: InternalRow, newGroup: Boolean, newRun: Boolean): Unit = {
      if (newGroup) runs = 0L
      if (newRun) runs += 1
    }
    def result(): Long = runs
  }

  def derive(b: Boundary, parts: IndexedSeq[Long]): IndexedSeq[RankSeed] = {
    val c = b.scan((0L, 0L)) { case ((rows, runs), s) =>
      (rows + b.rows(s), runs + (if (s.last) parts(s.p) else 0L))
    }
    val totals = c.firstTotal.map(_._1)
    val intRanked = modes.exists {
      case RowNumF | RankF | DenseRankF | _: NTileF => true
      case _ => false
    }
    if (!keyed && intRanked && totals.exists(_ > Int.MaxValue))
      throw new SparkException(s"global ranking over ${totals.max} rows exceeds the " +
        "IntegerType range of row_number/rank/dense_rank/ntile (2^31-1, same type as " +
        "WindowExec, which silently wraps). Pre-aggregate or filter before ranking, " +
        "or window by a partition key.")
    if (needTotals && intRanked && totals.exists(_ > Int.MaxValue))
      throw new SparkException("a per-key ranking group exceeds the IntegerType range " +
        "of row_number/rank/dense_rank/ntile (2^31-1). Pre-aggregate or filter before " +
        "ranking.")
    (0 until b.nTasks).map(p =>
      RankSeed(c.before(p)._1, c.before(p)._2, c.firstTotal(p)._1, c.lastTotal(p)._1))
  }

  def open(in: Seq[Attribute], seed: RankSeed, base: Int,
           preTail: Array[UnsafeRow], sucHead: Array[UnsafeRow]): Runner = new Runner {
    private val ms = modes
    private val waitRun = lookahead
    private val waitGroup = needTotals
    // group-relative counters; the task's first group continues its chain
    private var first = true
    private var idx = seed.rows
    private var dense = seed.runs
    private var runStart = idx
    private var atRunStart = true
    private final class Waiting(val s: Slot, val idx: Long, val runStart: Long,
                                val dense: Long, var runEnd: Long)
    private val waiting = ArrayBuffer[Waiting]()
    private var runFrom = 0 // first waiting row of the current tie run

    private def emit(s: Slot, idx: Long, runStart: Long, runEnd: Long, runs: Long,
                     n: Long): Unit = {
      var i = 0
      while (i < ms.length) {
        s.set(base + i, ms(i) match {
          case RowNumF => Math.toIntExact(idx + 1)
          case RankF => Math.toIntExact(runStart + 1)
          case DenseRankF => Math.toIntExact(runs)
          case PercentRankF => if (n > 1) runStart.toDouble / (n - 1).toDouble else 0.0
          case CumeDistF => (runEnd + 1).toDouble / n.toDouble
          case NTileF(k) =>
            // WindowExec's bucketing: the first (n % k) buckets take one extra row
            val size = n / k
            val padded = n % k
            val threshold = padded * (size + 1)
            val bucket =
              if (idx < threshold) idx / (size + 1) else padded + (idx - threshold) / size
            Math.toIntExact(bucket + 1)
        })
        i += 1
      }
    }

    def row(s: Slot): Unit = {
      if (atRunStart) { runStart = idx; dense += 1; atRunStart = false }
      if (waitRun || waitGroup && !first) waiting += new Waiting(s, idx, runStart, dense, idx)
      else emit(s, idx, runStart, idx, dense, seed.firstTotal)
      idx += 1
    }

    override def endRun(): Unit = {
      atRunStart = true
      if (waitRun) {
        var i = runFrom
        while (i < waiting.length) { waiting(i).runEnd = idx - 1; i += 1 }
        if (first || !waitGroup) flush(seed.firstTotal)
        runFrom = waiting.length
      }
    }

    override def endGroup(last: Boolean): Unit = {
      flush(if (first) seed.firstTotal else if (last) seed.lastTotal else idx)
      first = false
      idx = 0L
      dense = 0L
    }

    private def flush(n: Long): Unit = {
      waiting.foreach(w => emit(w.s, w.idx, w.runStart, w.runEnd, w.dense, n))
      waiting.clear()
      runFrom = 0
    }
  }
}
