package perfbench

/** Per-layer metrics shared by every workload, taken from the trace of the
  * timed passes. Every value is per pass, so it compares with `suite_s`.
  */
object Layers {

  /** Every per-layer metric name, in report order. A workload that does not
    * exercise a layer reports 0 for it.
    */
  def names: Seq[String] = Seq(
    "driver.build_s", "driver.build_jobs", "exec.exec_s", "exec.jobs",
    "spark.job_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_busy_s", "spark.core_util", "spark.scan_mb",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.gc_s", "jvm.cpu_s", "jvm.jit_s", "spark.codegen_classes") ++ CdcLive.layerNames ++ Suites.moduleMetricNames ++
    Seq("trace.attributed_frac", "trace.spans")

  private var jobsRecorded = false

  /** Drain the listener bus and add each job launched inside a timed pass
    * to the trace, as a child span of the span that launched it. Returns
    * every span inside the timed passes (the pass roots included).
    */
  def inPasses(ctx: Ctx, passes: Seq[Pass]): Seq[Span] = {
    def subtree(): Set[Long] = {
      val kids = ctx.tracer.spans.groupBy(_.parent)
      var frontier = passes.map(_.spanId).toSet
      var all = frontier
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(id => kids.getOrElse(id, Nil).map(_.id)) -- all
        all ++= frontier
      }
      all
    }
    ctx.meter.foreach { m =>
      if (!jobsRecorded) {
        org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
        val ids = subtree()
        m.jobs.filter(j => ids(j._1)).foreach { case (parent, t0, t1, job) =>
          ctx.tracer.record(parent, "job", t0, t1, Map("job" -> job.toString))
        }
        jobsRecorded = true
      }
    }
    val ids = subtree()
    ctx.tracer.spans.filter(s => ids(s.id)).toSeq
  }

  /** Number of jobs each span launched directly. */
  def jobCounts(ctx: Ctx, spans: Seq[Span]): Map[Long, Int] =
    spans.filter(_.name == "job").groupBy(_.parent).map { case (p, js) => p -> js.size }
      .withDefaultValue(0)

  /** Per span name inside the timed passes: (name, count, total ms, self
    * ms), each per pass, by self time.
    */
  def spanTable(ctx: Ctx, passes: Seq[Pass]): Seq[(String, Double, Double, Double)] = {
    val spans = inPasses(ctx, passes)
    val self = Tracer.selfNs(spans)
    val n = passes.size.toDouble
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      (name, ss.size / n, ss.map(_.durNs).sum / 1e6 / n, ss.map(s => self(s.id)).sum / 1e6 / n)
    }.sortBy(-_._4)
  }

  /** Spark-side counters, GC and trace coverage over the timed passes. */
  def spark(ctx: Ctx, m: SparkMeter, passes: Seq[Pass]): Map[String, Double] = {
    val spans = inPasses(ctx, passes)
    val ids = spans.map(_.id).toSet
    val c = new m.Counts
    m.synchronized(m.bySpan.filter { case (id, _) => ids(id) }.values.foreach(c.add))
    val n = passes.size.toDouble
    val opWall = passes.map(_.wallS).sum
    val jobs = spans.filter(_.name == "job")
    val mb = 1048576.0
    // coverage: the share of the pass's wall time that its operations'
    // layer spans and the harness's own untimed steps account for
    val kids = spans.groupBy(_.parent)
    val covered = passes.map { p =>
      val top = kids.getOrElse(p.spanId, Nil)
      val leaves = top.flatMap { t =>
        if (t.name == "query" || t.name == "batch") kids.getOrElse(t.id, Nil).filter(_.name != "job")
        else Seq(t)
      }
      Tracer.union(leaves.map(s => (s.startNs, s.endNs))).toDouble / (p.endNs - p.startNs)
    }
    Map(
      "spark.job_s" -> Tracer.union(jobs.map(j => (j.startNs, j.endNs))) / 1e9 / n,
      "spark.jobs" -> c.jobs / n,
      "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.task_busy_s" -> c.taskBusyMs / 1000.0 / n,
      "spark.core_util" -> c.taskBusyMs / 1000.0 / (opWall * Main.Cpus),
      "spark.scan_mb" -> c.scanBytes / mb / n,
      "spark.shuffle_read_mb" -> c.shuffleRead / mb / n,
      "spark.shuffle_write_mb" -> c.shuffleWrite / mb / n,
      "spark.spill_mb" -> c.spill / mb / n,
      "spark.gc_s" -> passes.flatMap(_.ops).map(_.gcMs).sum / 1000.0 / n,
      "jvm.jit_s" -> passes.flatMap(_.ops).map(_.jitMs).sum / 1000.0 / n,
      "spark.codegen_classes" -> passes.flatMap(_.ops).map(_.codegens).sum / n,
      "trace.attributed_frac" -> covered.min,
      "trace.spans" -> spans.size / n)
  }
}
