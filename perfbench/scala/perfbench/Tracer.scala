package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder and Spark job listener for the traced run.
  *
  * A span is opened around each call into an engine layer. While it is open
  * the calling thread carries the span id in a benchmark-owned Spark local
  * property, which threads the engine spawns inherit; every job records the
  * id it was submitted under, so jobs attribute to the innermost span that
  * caused them. (`spark.job.description` is not used: engine code overwrites
  * it per phase.) Times are epoch nanoseconds so span bounds, audit-table
  * timestamps and listener job times share one clock.
  */
object Tracer {
  val SpanProp = "perfbench.span"

  private val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = epochOffsetNs + System.nanoTime()

  final class Span(val id: Long, val name: String, val parent: Long, val startNs: Long) {
    @volatile var endNs: Long = -1L
    def durNs: Long = endNs - startNs
  }

  final class Job(val id: Int, val span: Long, val startMs: Long, val audit: Boolean) {
    @volatile var endMs: Long = -1L
    var cpuNs, runMs, spill, shuffleWrite, shuffleRead, outBytes = 0L
    def startNs: Long = startMs * 1000000L
    def endNs: Long = (if (endMs < 0) startMs else endMs) * 1000000L
  }
}

final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  @volatile var enabled = false
  private val nextId = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  /** Run `f` inside a span named `name`, child of the caller's span. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val prev = sc.getLocalProperty(SpanProp)
      val s = new Span(nextId.incrementAndGet(), name,
        Option(prev).map(_.toLong).getOrElse(0L), nowNs())
      spans.add(s)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try f
      finally { s.endNs = nowNs(); sc.setLocalProperty(SpanProp, prev) }
    }

  /** Record a span whose bounds were observed elsewhere (audit timestamps). */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Span = {
    val s = new Span(nextId.incrementAndGet(), name, parent, startNs)
    s.endNs = endNs
    spans.add(s)
    s
  }

  /** Id of the span open on this thread (0 when none). */
  def current: Long = Option(sc.getLocalProperty(SpanProp)).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
    // audit appends are recognised by their call site (the engine's audit
    // writer), so audit time can be split out of the service it runs in
    val site = e.stageInfos.map(_.details).mkString("\n")
    val j = new Job(e.jobId, span, e.time, site.contains("graft.audit."))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.outBytes += m.outputMetrics.bytesWritten
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Write every span (with self time and attributed job counts) and every
    * job as JSON lines.
    */
  def dump(path: String): Unit = {
    val ss = allSpans.filter(_.endNs >= 0)
    val children = ss.groupBy(_.parent)
    val js = allJobs
    val bySpan = js.groupBy(_.span)
    val m = Gen.mapper
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try {
      ss.sortBy(_.startNs).foreach { s =>
        val kids = children.getOrElse(s.id, Nil)
        val covered = Intervals.unionLength(
          Intervals.clip(kids.map(k => (k.startNs, k.endNs)), s.startNs, s.endNs))
        val n = m.createObjectNode()
        n.put("type", "span").put("id", s.id).put("name", s.name).put("parent", s.parent)
          .put("start_ns", s.startNs).put("end_ns", s.endNs).put("self_ns", s.durNs - covered)
          .put("jobs", bySpan.getOrElse(s.id, Nil).size)
          .put("jobs_total", subtree(s.id, children).toSeq.map(bySpan.getOrElse(_, Nil).size).sum)
        w.write(m.writeValueAsString(n)); w.newLine()
      }
      js.sortBy(_.id).foreach { j =>
        val n = m.createObjectNode()
        n.put("type", "job").put("id", j.id).put("span", j.span).put("start_ns", j.startNs)
          .put("end_ns", j.endNs).put("audit", j.audit).put("cpu_ns", j.cpuNs)
          .put("shuffle_write_bytes", j.shuffleWrite).put("shuffle_read_bytes", j.shuffleRead)
          .put("spill_bytes", j.spill).put("output_bytes", j.outBytes)
        w.write(m.writeValueAsString(n)); w.newLine()
      }
    } finally w.close()
  }

  // ------------------------------------------------------------ queries

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[Job] = jobs.values().asScala.toSeq

  /** Ids of `root` and every span below it. */
  def subtree(root: Long, children: Map[Long, Seq[Span]]): Set[Long] = {
    val out = Set.newBuilder[Long]
    var frontier = List(root)
    while (frontier.nonEmpty) {
      val h = frontier.head
      out += h
      frontier = children.getOrElse(h, Nil).map(_.id).toList ++ frontier.tail
    }
    out.result()
  }
}

object Intervals {
  /** Total length covered by the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Clip intervals to [lo, hi). */
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
}
