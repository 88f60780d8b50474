package perfbench

import graft.GraftExtensions
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One closed-loop operation as measured. */
final case class OpRec(kind: String, ms: Double, items: Long, failures: Seq[String])

/** The timed operations of one phase, with the space amplification
  * sampled after each of them, and the untimed warm-up operations before
  * them, whose outputs are checked all the same. */
final case class Phase(ops: Seq[OpRec], spaceAmp: Seq[Double], gcMs: Seq[Double], warmup: Seq[OpRec]) {
  def attempted: Int = warmup.size + ops.size
  def failed: Int = (warmup ++ ops).count(_.failures.nonEmpty)
  def opSeconds: Double = ops.map(_.ms).sum / 1000
}

/** Runs one workload: set up `SetupReps` times on fresh sessions, measure
  * untraced for `seconds` after the workload's warm-up operations, and
  * with `--trace 1` set up once more and measure a traced phase of the
  * same length, set-up included in the trace. Writes one JSON report.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <scratch dir> --out <report file> --cores <k> */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val (name, seed, seconds, trace) = (need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1")
    val (work, out) = (need("work"), new File(need("out")))
    val cores = need("cores").toInt
    out.delete()

    // stores live under data/, apart from the session's scratch space
    val data = s"$work/data"
    var spark: SparkSession = null
    def fresh(): Workload = {
      if (spark != null) spark.stop()
      deleteTree(new File(work))
      spark = session(cores, work)
      Workload(name, seed, data)
    }
    val setupS = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      val wl = fresh()
      val t1 = System.nanoTime()
      wl.setup(spark, new Tracer(false, spark.sparkContext))
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup $r: ${dt}%.2f s (session ${(t1 - t0) / 1e9}%.2f s)")
      (dt, wl)
    }
    val wl = setupS.last._2
    val untraced = measure(wl, seconds, new Tracer(false, spark.sparkContext), warmup(wl, spark))
    val peakRssMb = rssPeakMb()
    val memory = Map("store_mb" -> wl.storeBytes / 1e6, "user_data_mb" -> wl.userBytes / 1e6,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6)

    val traced = if (!trace) None else {
      val wl2 = Workload(name, seed, data)
      deleteTree(new File(data))
      val listener = new GroupListener
      spark.sparkContext.addSparkListener(listener)
      val tr = new Tracer(true, spark.sparkContext)
      wl2.setup(spark, tr)
      val phase = measure(wl2, seconds, tr, warmup(wl2, spark))
      listener.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      Some((phase, tr, listener))
    }

    val report = Report.build(name, seed, seconds, cores, wl.sizes ++ memory, setupS.map(_._1), peakRssMb, untraced, traced)
    spark.stop()
    deleteTree(new File(work))
    val tmp = new File(out.getPath + ".tmp")
    java.nio.file.Files.write(tmp.toPath, report.getBytes("UTF-8"))
    require(tmp.renameTo(out), s"could not publish $out")
    val failed = untraced.failed + traced.map(_._1.failed).getOrElse(0)
    sys.exit(if (failed == 0) 0 else 3)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Runs the workload's untimed warm-up operations under their own job
    * group, so that a traced phase does not count them. */
  def warmup(wl: Workload, spark: SparkSession): Seq[OpRec] = {
    spark.sparkContext.setJobGroup("warmup", "warmup")
    try (0 until wl.warmupOps).map(i => run(wl, i, new Tracer(false, spark.sparkContext)))
    finally spark.sparkContext.clearJobGroup()
  }

  /** One operation, its failures reported; exceptions count as failures. */
  private def run(wl: Workload, i: Int, tr: Tracer): OpRec = {
    val t0 = System.nanoTime()
    val r = try tr.span("op")(wl.op(i, tr))
      catch { case e: Exception => OpResult("error", 0, Seq(s"${e.getClass.getName}: ${e.getMessage}".take(500))) }
    val ms = (System.nanoTime() - t0) / 1e6
    r.failures.foreach(f => System.err.println(s"[perfbench] op $i ${r.kind} FAILED: $f"))
    OpRec(r.kind, ms, r.items, r.failures)
  }

  /** The closed loop: one client, the next operation starts when the
    * previous returns, until `seconds` of wall time have passed and the
    * last group of `opGroup` operations is complete. */
  def measure(wl: Workload, seconds: Double, tr: Tracer, warmup: Seq[OpRec]): Phase = {
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val amp = mutable.ArrayBuffer.empty[Double]
    val gc = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = wl.warmupOps
    while (System.nanoTime() < deadline || ops.isEmpty || ops.size % wl.opGroup != 0) {
      val g0 = gcMs()
      ops += run(wl, i, tr)
      gc += gcMs() - g0
      amp += wl.spaceAmp
      i += 1
    }
    Phase(ops.toSeq, amp.toSeq, gc.toSeq, warmup)
  }

  /** Peak resident set size of this process (VmHWM). */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
