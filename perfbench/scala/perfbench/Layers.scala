package perfbench

import perfbench.Tracer.{Job, Span}

/** Per-layer metrics of one traced window. Totals are divided by the number
  * of operations in the window, so a run that completes more operations
  * does not read as more work per operation. Layers a workload does not
  * exercise report 0.
  */
object Layers {
  val Services = Seq("transform", "contract", "rules", "report")
  val TextLayers = Seq("text.exact_dedup", "text.minhash", "text.ppjoin", "text.keep_best",
    "similarity.neardup")

  private def iv(js: Seq[Job]): Seq[(Long, Long)] = js.map(j => (j.startNs, j.endNs))

  def metrics(tracer: Tracer, win: Main.Window, stageBytes: Map[Int, Long]): Seq[(String, Double, String)] = {
    val closed = tracer.allSpans.filter(_.endNs >= 0)
    val children: Map[Long, Seq[Span]] = closed.groupBy(_.parent)
    val ops = win.ops
    // only spans under a measured operation: ramp and trailing operations
    // that overlap the window open spans too
    val measured = ops.flatMap(o => tracer.subtree(o.span, children)).toSet
    val spans = closed.filter(s => measured(s.id))
    val jobsBySpan: Map[Long, Seq[Job]] = tracer.allJobs.groupBy(_.span)
    def jobsIn(ids: Set[Long]): Seq[Job] = ids.toSeq.flatMap(jobsBySpan.getOrElse(_, Nil))
    def subtreeJobs(s: Span): Seq[Job] = jobsIn(tracer.subtree(s.id, children))
    def named(name: String): Seq[Span] = spans.filter(_.name == name)

    val n = math.max(1, ops.size).toDouble
    val opJobs = ops.map(o => o -> jobsIn(tracer.subtree(o.span, children)))
    val allJobs = opJobs.flatMap(_._2)
    val out = Seq.newBuilder[(String, Double, String)]
    def perOp(name: String, total: Double, unit: String): Unit = out += ((name, total / n, unit))

    // spark, per operation
    perOp("spark.jobs", allJobs.size, "count")
    perOp("spark.driver_outside_jobs_s", opJobs.map { case (o, js) =>
      (o.endNs - o.startNs) - Intervals.unionLength(Intervals.clip(iv(js), o.startNs, o.endNs))
    }.sum / 1e9, "s")
    perOp("spark.task_cpu_s", allJobs.map(_.cpuNs).sum / 1e9, "s")
    out += (("spark.slot_busy_frac",
      allJobs.map(_.runMs).sum * 1e6 / math.max(1.0, (win.endNs - win.startNs).toDouble * BenchSession.cores),
      "ratio"))
    perOp("spark.gc_s", win.gcMs / 1e3, "s")
    perOp("spark.spill_bytes", allJobs.map(_.spill).sum.toDouble, "bytes")
    perOp("spark.shuffle_write_bytes", allJobs.map(_.shuffleWrite).sum.toDouble, "bytes")
    perOp("spark.shuffle_read_bytes", allJobs.map(_.shuffleRead).sum.toDouble, "bytes")

    // config
    perOp("config.parse_s", named("config.parse").map(_.durNs).sum / 1e9, "s")

    // pipeline services: spans bounded by audit timestamps; jobs attribute
    // by start time within the submission's own run; audit appends are
    // split out into the audit layer
    val runs = named("pipeline.run")
    val runJobs: Map[Long, Seq[Job]] = runs.map(r => r.id -> subtreeJobs(r)).toMap
    Services.foreach { svc =>
      var s, jobs, outside, cpu, shuffle = 0.0
      named(svc).foreach { sp =>
        val js = runJobs.getOrElse(sp.parent, Nil).filter(j => j.startNs >= sp.startNs && j.startNs < sp.endNs)
        val (auditJ, own) = js.partition(_.audit)
        s += sp.durNs - Intervals.unionLength(Intervals.clip(iv(auditJ), sp.startNs, sp.endNs))
        jobs += own.size
        outside += sp.durNs - Intervals.unionLength(Intervals.clip(iv(js), sp.startNs, sp.endNs))
        cpu += own.map(_.cpuNs).sum
        shuffle += own.map(_.shuffleWrite).sum
      }
      perOp(s"$svc.s", s / 1e9, "s")
      perOp(s"$svc.jobs", jobs, "count")
      perOp(s"$svc.outside_jobs_s", outside / 1e9, "s")
      perOp(s"$svc.task_cpu_s", cpu / 1e9, "s")
      if (svc == "rules") perOp("rules.shuffle_bytes", shuffle, "bytes")
    }
    val auditJobs = opJobs.map { case (o, js) => o -> js.filter(_.audit) }
    perOp("audit.s", auditJobs.map { case (o, js) =>
      Intervals.unionLength(Intervals.clip(iv(js), o.startNs, o.endNs)) }.sum / 1e9, "s")
    perOp("audit.jobs", auditJobs.map(_._2.size).sum, "count")
    val written = ops.map(o => stageBytes.getOrElse(o.idx, 0L)).sum.toDouble
    val input = ops.map(_.res.inputBytes).sum.toDouble
    perOp("pipeline.stage_bytes_written", written, "bytes")
    out += (("pipeline.stage_bytes_per_input_byte", if (input > 0) written / input else 0.0, "ratio"))
    out += (("pipeline.jobs_per_submission",
      if (runs.isEmpty) 0.0 else runJobs.values.map(_.size).sum.toDouble / runs.size, "count"))

    // text / similarity / graph calls
    TextLayers.foreach { layer =>
      val sp = named(layer)
      val js = sp.flatMap(subtreeJobs)
      perOp(s"$layer.s", sp.map(_.durNs).sum / 1e9, "s")
      perOp(s"$layer.jobs", js.size, "count")
      perOp(s"$layer.shuffle_bytes", js.map(_.shuffleWrite).sum.toDouble, "bytes")
    }

    // query phases of those calls
    val construct = named("query.construct")
    val exec = named("query.exec")
    perOp("query.construct_s", construct.map(_.durNs).sum / 1e9, "s")
    perOp("query.construct_jobs", construct.flatMap(subtreeJobs).size, "count")
    perOp("query.plan_s", named("query.plan").map(_.durNs).sum / 1e9, "s")
    perOp("query.exec_s", exec.map(_.durNs).sum / 1e9, "s")
    perOp("query.jobs", exec.flatMap(subtreeJobs).size, "count")

    // the window time no operation covers
    out += (("trace.uncovered_s", (win.endNs - win.startNs -
      Intervals.unionLength(ops.map(o => (o.startNs, o.endNs)))) / 1e9, "s"))
    out.result()
  }
}
