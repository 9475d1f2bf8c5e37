package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Benchmark entry point (one workload, one seed, one measured window).
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --scratch <dir> [--trace-out <file>]
  *
  * Set-up: session start, input generation (three times; the median
  * counts) and the closed loop's ramp. The measured
  * window then drives the number of operations `--seconds` stands for
  * (`Workload.measuredOps`); every measured operation's output is checked
  * against the planted truth after the window. With `--trace 1` the whole
  * window is traced and the per-layer metrics come from it; its median
  * latency (`trace.latency_p50_s`), set against the untraced run of the same
  * seed, gives the tracing overhead. The window's spans and jobs are written
  * to `--trace-out` (JSON lines).
  * The last stdout line is one JSON object.
  */
object Main {
  final case class OpRecord(idx: Int, startNs: Long, endNs: Long, span: Long, res: OpResult) {
    def latencyS: Double = (endNs - startNs) / 1e9
  }

  final case class Window(ops: Seq[OpRecord], startNs: Long, endNs: Long, gcMs: Long)

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Start offset between consecutive clients of a closed loop. */
  val ClientOffsetMs = 2000L

  /** One closed loop: `clients` threads each start their next operation as
    * soon as the previous one returns. The first `w.rampOps` operations are
    * not measured; the next `measured` are. The window opens when operation
    * `w.rampOps` is taken (tracing, if asked for, starts there) and closes
    * when the last measured operation ends. Until then clients keep taking
    * unmeasured operations, so every measured one runs at full concurrency
    * rather than in a draining loop. The measured set is a fixed number of
    * operations: it does not depend on how many a slower or faster host
    * fits in a time. Returns the window and the ramp's length in seconds.
    */
  def runLoop(w: Workload, tracer: Tracer, measured: Int, trace: Boolean): (Window, Double) = {
    val recs = new ConcurrentLinkedQueue[OpRecord]()
    val total = w.rampOps + measured
    val pending = new AtomicInteger(measured)
    val loopStart = Tracer.nowNs()
    val lock = new Object
    var next = 0
    var windowStart, gcStart = 0L
    def take(): Int = lock.synchronized {
      val i = next
      next += 1
      if (i == w.rampOps) { windowStart = Tracer.nowNs(); gcStart = gcMs(); tracer.enabled = trace }
      i
    }
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        try {
          // clients start out of step, so they do not move through the
          // pipeline's stages in lockstep rounds
          Thread.sleep(c * ClientOffsetMs)
          var i = take()
          while (i < total || pending.get() > 0) {
            var span = 0L
            val t0 = Tracer.nowNs()
            val r = tracer.span("op") { span = tracer.current; w.op(i) }
            if (i >= w.rampOps && i < total) {
              recs.add(OpRecord(i, t0, Tracer.nowNs(), span, r))
              pending.decrementAndGet()
            }
            i = take()
          }
        } catch {
          // the others stop too: this client's measured operation never ends
          case e: Throwable => errors.add(e); pending.set(0)
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    tracer.enabled = false
    if (!errors.isEmpty) throw errors.peek()
    val ops = recs.asScala.toSeq.sortBy(_.startNs)
    val ws = lock.synchronized(windowStart)
    (Window(ops, ws, ops.map(_.endNs).max, gcMs() - gcStart), (ws - loopStart) / 1e9)
  }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val scratch = arg(args, "--scratch")
    val traceOut = if (trace) Some(arg(args, "--trace-out")) else None
    val w = Workloads(workload)

    val spark = BenchSession.create(scratch)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    try {
      val inputDir = s"$scratch/input"
      val workDir = s"$scratch/work"
      // input generation is repeated and its median counted: one sample of
      // a seconds-long step is too noisy for the set-up bound
      val genS = (1 to 3).map { _ =>
        Gen.deleteRecursively(Paths.get(inputDir))
        Files.createDirectories(Paths.get(inputDir))
        val t0 = System.nanoTime()
        w.generate(inputDir, seed)
        (System.nanoTime() - t0) / 1e9
      }
      w.prepare(spark, tracer, inputDir, workDir)

      val (win, rampS) = runLoop(w, tracer, w.measuredOps(seconds), trace)
      if (trace) tracer.drain()
      val setupS = sessionS + median(genS) + rampS
      System.err.println(f"[perfbench] setup: session $sessionS%.2f s, generate ${genS.mkString(",")} s, " +
        f"ramp $rampS%.2f s")
      val ops = win.ops
      val stageBytes = ops.map(o => o.idx -> o.res.stageBytes()).toMap
      if (trace) {
        w.synthesizeSpans()
        traceOut.foreach(tracer.dump)
      }
      val failures = ops.flatMap { o =>
        try o.res.check()
        catch { case e: Throwable => Seq(s"op ${o.idx}: check threw ${e.getClass.getName}: ${e.getMessage}") }
      }
      failures.take(20).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
      val attempted = ops.map(_.res.operations).sum

      val latencyP50 = median(ops.map(_.latencyS))
      val metrics: Seq[(String, Double, String)] =
        if (!trace) {
          // rates at the median latency: by Little's law a closed loop of
          // `clients` completes clients / latency operations a second; the
          // median keeps a passing slowdown of the host out of them
          val perOpS = latencyP50 / w.clients
          Seq(
            ("setup_s", setupS, "s"),
            ("run_s", (win.endNs - win.startNs) / 1e9, "s"),
            ("latency_p50_s", latencyP50, "s"),
            ("ops_per_s", 1.0 / perOpS, "1/s"),
            ("records_per_s", ops.map(_.res.records).sum.toDouble / ops.size / perOpS, "1/s"))
        } else
          Layers.metrics(tracer, win, stageBytes) ++ Seq(
            ("trace.latency_p50_s", latencyP50, "s"),
            ("jvm.peak_rss_mb", vmHwmMb(), "MB"))
      System.err.println(f"[perfbench] $workload seed=$seed: ${ops.size} ops in window, " +
        f"latencies ${ops.map(o => f"${o.latencyS}%.2f").mkString(" ")} s, ${failures.size} check failures")
      val m = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
      println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, "metrics": $m}""")
    } finally spark.stop()
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
