package perfbench

import scala.collection.mutable

/** Turns measured phases into the benchmark's JSON report. */
object Report {
  /** Median with linear interpolation (Python's statistics.median). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count), or None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    val k = s.length - 11
    if (k < 0) None else Some((s(k), 100.0 * (k + 1) / s.length, s.length))
  }

  private def timing(prefix: String, ms: Seq[Double]): Map[String, Any] =
    if (ms.isEmpty) Map.empty
    else Map(s"${prefix}_p50_ms" -> m(median(ms), "ms")) ++ tail(ms).map { case (v, p, n) =>
      s"${prefix}_tail_ms" -> Map("value" -> v, "unit" -> "ms", "percentile" -> p, "samples" -> n)
    }

  private def m(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  /** The end-to-end metrics under their workload-specific names. */
  private def named(workload: String, p: Phase): Map[String, Any] = {
    def ms(kinds: String*) = p.ops.filter(o => kinds.contains(o.kind)).map(_.ms)
    val items = p.ops.map(_.items).sum.toDouble
    workload match {
      case "ts_scan" =>
        Map("scan_ops_per_s" -> m(p.ops.size / p.opSeconds, "ops/s")) ++
          timing("range_scan", ms("range_narrow", "range_wide")) ++ timing("point_get", ms("point_get_hit", "point_get_miss")) ++
          timing("window_scan", ms("window")).filter(_._1.endsWith("p50_ms"))
      case "corpus_refresh" =>
        Map("refresh_docs_per_s" -> m(items / p.opSeconds, "docs/s")) ++ timing("refresh_batch", ms("refresh"))
    }
  }

  /** The metrics every workload reports (the benchmark's gated set). */
  def common(p: Phase): Map[String, Double] = Map(
    "op_p50_ms" -> median(p.ops.map(_.ms)),
    "ops_per_s" -> p.ops.size / p.opSeconds,
    "space_amp" -> p.spaceAmp.sum / p.spaceAmp.size)

  def build(workload: String, seed: Long, seconds: Double, cores: Int, sizes: Map[String, Any],
            setupS: Seq[Double], peakRssMb: Double, untraced: Phase,
            traced: Option[(Phase, Tracer, GroupListener)]): String = {
    val e2e = Map(
      "setup_s" -> m(median(setupS), "s"),
      "peak_rss_mb" -> m(peakRssMb, "MB"),
      "ops_failed_frac" -> m(untraced.failed.toDouble / untraced.attempted.max(1), "failed/attempted")) ++
      named(workload, untraced)
    val kinds = untraced.ops.groupBy(_.kind).map { case (k, os) => k -> Map("n" -> os.size, "p50_ms" -> median(os.map(_.ms))) }
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
      "sizes" -> sizes, "setup_s_samples" -> setupS,
      "attempted" -> untraced.attempted, "failed" -> untraced.failed,
      "failures" -> (untraced.warmup ++ untraced.ops).flatMap(_.failures).take(10),
      "common" -> (common(untraced) ++ Map("setup_s" -> median(setupS), "peak_rss_mb" -> peakRssMb)),
      "end_to_end" -> e2e, "kinds" -> kinds, "op_ms" -> untraced.ops.map(o => math.rint(o.ms * 10) / 10))
    traced.foreach { case (p, tr, l) =>
      val layers = Layers.metrics(p, tr, l)
      val overhead = median(p.ops.map(_.ms)) / median(untraced.ops.map(_.ms)) - 1
      out("traced") = Map(
        "attempted" -> p.attempted, "failed" -> p.failed,
        "failures" -> (p.warmup ++ p.ops).flatMap(_.failures).take(10),
        "end_to_end" -> (named(workload, p) ++ common(p)),
        "layers" -> (layers + ("trace.overhead_frac" -> overhead)))
      out("spans") = tr.all.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.ms, "counters" -> s.counters,
          "work" -> Layers.workJson(l.get(s.group)),
          "jobs" -> l.jobsOf(s.group).map(j => Map("description" -> j.description,
            "start_ms" -> j.startMs, "end_ms" -> j.endMs)))
      }
    }
    Json(out.toMap)
  }
}

/** Per-layer metrics of a traced phase. */
object Layers {
  import Report.median

  def workJson(w: JobWork): Map[String, Any] = Map(
    "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks, "task_cpu_s" -> w.taskCpuNs / 1e9,
    "shuffle_mb" -> w.shuffleBytes / 1e6, "input_rows" -> w.inputRows)

  /** One call into a layer: a span, or one stage of a span split by its
    * `stages`. */
  private final case class Call(name: String, ms: Double, selfMs: Double, work: JobWork, counters: Map[String, Double])

  /** The stages of span `s`: consecutive jobs of one stage form a
    * segment, which runs from its first job's start (the span's start for
    * the first) to the next segment's first job start (the span's end for
    * the last), less the time of the span's child spans. */
  private def stageCalls(s: Span, st: PartialFunction[String, String], kids: Seq[Span], l: GroupListener): Seq[Call] = {
    val js = l.jobsOf(s.group).flatMap(j => st.lift(j.description).map(_ -> j))
    val segs = js.foldLeft(List.empty[(String, List[JobWork])]) {
      case ((n, ws) :: rest, (m, j)) if n == m => (n, j :: ws) :: rest
      case (acc, (m, j)) => (m, List(j)) :: acc
    }.reverse
    val bounds = segs.indices.map { i =>
      val a = if (i == 0) s.startMs else segs(i)._2.map(_.startMs).min
      val b = if (i == segs.size - 1) s.endMs else segs(i + 1)._2.map(_.startMs).min
      val busy = covered(kids.map(k => (math.max(a, k.startMs), math.min(b, k.endMs))))
      math.max(0.0, b - a - busy)
    }
    segs.zip(bounds).groupBy(_._1._1).toSeq.map { case (n, xs) =>
      val ms = xs.map(_._2).sum
      Call(n, ms, ms, JobWork.sum(xs.flatMap(_._1._2)), Map.empty)
    }
  }

  def metrics(p: Phase, tr: Tracer, l: GroupListener): Map[String, Double] = {
    val spans = tr.all
    val children = spans.groupBy(_.parent)
    val calls = spans.map { s =>
      Call(s.name, s.ms, s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum, l.get(s.group), s.counters)
    } ++ spans.flatMap(s => s.stages.toSeq.flatMap(st => stageCalls(s, st, children.getOrElse(s.id, Nil), l)))
    def counter(cs: Seq[Call], k: String) = cs.map(_.counters.getOrElse(k, 0.0)).sum
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val out = mutable.LinkedHashMap.empty[String, Double]
    val byName = calls.groupBy(_.name)
    byName.foreach { case (name, cs) =>
      val n = cs.size.toDouble
      val ws = cs.map(_.work)
      out(s"$name.calls_per_op") = n / p.ops.size
      out(s"$name.ms") = median(cs.map(_.ms))
      out(s"$name.self_ms") = median(cs.map(_.selfMs))
      out(s"$name.jobs") = ws.map(_.jobs).sum / n
      out(s"$name.stages") = ws.map(_.stages).sum / n
      out(s"$name.tasks") = ws.map(_.tasks).sum / n
      out(s"$name.task_cpu_s") = ws.map(_.taskCpuNs).sum / 1e9 / n
      out(s"$name.shuffle_mb") = ws.map(_.shuffleBytes).sum / 1e6 / n
      out(s"$name.input_rows") = ws.map(_.inputRows).sum / n
    }
    def named(n: String) = byName.getOrElse(n, Nil)
    def inputRows(n: String) = named(n).map(_.work.inputRows.toDouble).sum
    for (k <- Seq("keys.salt", "keys.unsalt"))
      out(s"$k.ns_per_row") = ratio(named(k).map(_.ms * 1e6).sum, counter(named(k), "rows"))
    val write = named("store.salted_write")
    out("store.salted_write.bytes_written_per_user_byte") =
      ratio(counter(write, "bytes_written"), counter(write, "user_bytes"))
    out("store.salted_write.files_written") = {
      val appends = write.filter(_.counters.contains("files_written"))
      ratio(counter(appends, "files_written"), appends.size)
    }
    out("scan.range.rows_read_per_row_returned") = ratio(inputRows("scan.range"), counter(named("scan.range"), "rows_returned"))
    out("scan.ordered_iterator.first_row_ms") =
      named("scan.ordered_iterator").map(_.counters.getOrElse("first_row_ms", 0.0)) match {
        case Seq() => 0.0
        case xs => median(xs)
      }
    out("store.gram_probe.rows_read_per_contained") = ratio(inputRows("store.gram_probe"), counter(named("op"), "contained"))
    out("pipeline.fuzzy_screen.rows_read_per_near_dup") = ratio(inputRows("pipeline.fuzzy_screen"), counter(named("op"), "near_dup"))

    // driver orchestration, per operation
    val ops = spans.filter(_.name == "op")
    val byOp = spans.groupBy(_.op)
    val opWork = ops.map { o =>
      val ws = byOp.getOrElse(o.id, Nil).flatMap(s => l.jobsOf(s.group))
      val busy = covered(ws.map(j => (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs))))
      (JobWork.sum(ws), math.max(0.0, o.ms - busy))
    }
    def perOp(f: JobWork => Double) = ratio(opWork.map(w => f(w._1)).sum, ops.size)
    out("driver.jobs_per_op") = perOp(_.jobs.toDouble)
    out("driver.tasks_per_op") = perOp(_.tasks.toDouble)
    out("driver.gap_ms_per_op") = ratio(opWork.map(_._2).sum, ops.size)
    out("driver.result_mb_per_op") = perOp(_.resultBytes / 1e6)
    out("driver.spill_mb_per_op") = perOp(_.spillBytes / 1e6)
    out("driver.gc_ms_per_op") = ratio(p.gcMs.sum, p.gcMs.size)
    out("trace.unattributed_jobs") = l.get(GroupListener.NoGroup).jobs.toDouble
    out.toMap
  }

  /** Milliseconds covered by the union of the intervals. */
  private def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total.toDouble
  }
}

/** A minimal JSON writer for maps, sequences, numbers, strings and
  * booleans. Non-finite numbers are written as null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
