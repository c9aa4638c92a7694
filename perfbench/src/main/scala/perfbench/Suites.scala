package perfbench

import graft.QueryDef

/** The query-suite workload.
  *
  * `pipeline` is two faces of the training-data dedup family: the
  * driver-bound entity-resolution loop (fuzzy name pairs, then iterated
  * connected components) and the shuffle/kernel-bound MinHash LSH.
  *
  * One pass runs every query of the workload once, in a fixed order:
  * `QueryDef.build`, then a noop-sink write of the returned frame, so the
  * plan the query defines runs in full. The seed drives the input tables
  * only; a seed-drawn order would move JIT warm-up cost between queries
  * from run to run. Untimed warm-up passes precede the timed ones and count
  * in set-up: a fresh JVM is still compiling through its first passes.
  *
  * Output check: after the timed passes, every query is dumped the way
  * `graft.Verify` dumps it (oracle-staging mode, one parquet per query,
  * `oracle_sql.json`) for `tools/compare.py` and the checks in `run.py`.
  * Staging mode changes what builds do, so it is switched on only once no
  * timed build is left to run.
  */
object Suites {

  /** The workload's queries, by the module that registers them. */
  val Modules: Seq[(String, Seq[QueryDef], Seq[String])] = Seq(
    ("DedupQueries", graft.pipeline.DedupQueries.defs, Seq("q_er_clusters", "q_dedup_minhash_lsh")))

  /** (module, query) in pass order. */
  def queries: Seq[(String, QueryDef)] = Modules.flatMap { case (m, defs, names) =>
    val byName = defs.map(d => d.name -> d).toMap
    names.map(n => m -> byName.getOrElse(n, sys.error(s"$m registers no query $n")))
  }

  def moduleMetricNames: Seq[String] =
    for ((m, _, _) <- Modules; k <- Seq("build_s", "exec_s", "jobs")) yield s"pipeline.$m.$k"

  val WarmupPasses = 2

  /** Timed passes per run: one per this many seconds of `--seconds`. */
  val NominalPassS = 4.0

  def run(ctx: Ctx, checkDir: Option[String]): Outcome = {
    val spark = ctx.spark

    def runQuery(module: String, q: QueryDef): Op = {
      ctx.isolate(gc = false)
      ctx.tracer.span("query", "name" -> q.name, "module" -> module) {
        ctx.timed(q.name, module) {
          val df = ctx.tracer.span("build")(q.build(spark, ctx.dataDir))
          ctx.tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
        }
      }
    }

    def pass() = queries.map { case (m, q) => runQuery(m, q) }
    val t0 = System.nanoTime()
    val warm = ctx.tracer.span("warmup")(Seq.fill(WarmupPasses)(pass()).flatten)
    val setupS = (System.nanoTime() - t0) / 1e9
    val passes = ctx.timedPasses(NominalPassS)(_ => pass())
    val ops = passes.flatMap(_.ops)
    // every query is dumped for the harness-side checks; q_er_clusters goes
    // to the DuckDB oracle on every tenth seed only, because its recursive
    // reachability CTE alone takes about 20 s here
    val oracleChecked = queries.map(_._2.name)
      .filter(n => n != "q_er_clusters" || ctx.seed % 10 == 0)
    checkDir.foreach(dumpForOracle(ctx, queries.map(_._2), oracleChecked.toSet, _))
    Outcome(
      setupS = setupS,
      passes = passes,
      attempted = ops.size,
      failed = ops.count(!_.ok),
      layers = if (ctx.tracer.enabled) layers(ctx, passes) else Map.empty,
      details = Map(
        "queries" -> queries.map(_._2.name),
        "oracle_checked" -> oracleChecked,
        "per_query" -> (if (ctx.tracer.enabled) perQuery(ctx, passes) else Nil),
        "warmup_ms" -> warm.map(o => Map("name" -> o.name, "ms" -> o.ms, "ok" -> o.ok))))
  }

  /** Dump each query's result as `graft.Verify` does: one single-file
    * parquet per query (an `__graft_error` row when it throws) and, for the
    * queries in `withOracle`, their oracle SQL resolved for this run's input
    * directory.
    */
  private def dumpForOracle(ctx: Ctx, qs: Seq[QueryDef], withOracle: Set[String],
      outDir: String): Unit = {
    val spark = ctx.spark
    System.setProperty("graft.oracle.stage", "1")
    graft.OracleStage.clean()
    qs.foreach { q =>
      try q.build(spark, ctx.dataDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
      catch {
        case e: Exception =>
          import spark.implicits._
          Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}").toDF("__graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
      }
    }
    val oracle = qs.filter(q => withOracle(q.name)).flatMap(q => q.oracle.map(sql =>
      q.name -> graft.sources.FormatSources.resolveOracle(ctx.dataDir, sql))).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "oracle_sql.json"), Json(oracle))
  }

  /** Driver-build and execution split per pass: self times of the `build`
    * and `exec` spans (their Spark jobs are child spans) and the jobs each
    * launched; per module, the same spans' whole durations and jobs.
    */
  private def layers(ctx: Ctx, passes: Seq[Pass]): Map[String, Double] = {
    val spans = Layers.inPasses(ctx, passes)
    val self = Tracer.selfNs(spans)
    val byId = spans.map(s => s.id -> s).toMap
    val jobsBy = Layers.jobCounts(ctx, spans)
    val n = passes.size.toDouble
    def phase(name: String) = spans.filter(_.name == name)
    def moduleOf(s: Span) = byId.get(s.parent).flatMap(_.attrs.get("module")).getOrElse("")
    val overall = Map(
      "driver.build_s" -> phase("build").map(s => self(s.id)).sum / 1e9 / n,
      "driver.build_jobs" -> phase("build").map(s => jobsBy(s.id)).sum / n,
      "exec.exec_s" -> phase("exec").map(s => self(s.id)).sum / 1e9 / n,
      "exec.jobs" -> phase("exec").map(s => jobsBy(s.id)).sum / n)
    val perModule = Modules.flatMap { case (m, _, _) =>
      def mine(phaseName: String) = phase(phaseName).filter(moduleOf(_) == m)
      Seq(
        s"pipeline.$m.build_s" -> mine("build").map(_.durNs).sum / 1e9 / n,
        s"pipeline.$m.exec_s" -> mine("exec").map(_.durNs).sum / 1e9 / n,
        s"pipeline.$m.jobs" -> (mine("build") ++ mine("exec")).map(s => jobsBy(s.id)).sum / n)
    }
    overall ++ perModule
  }

  /** Per query, per pass: the driver-build and execution self times, the
    * Spark jobs both launched, their task busy time and the core
    * utilization over the query's wall time (task busy ÷ (wall × cores)).
    */
  private def perQuery(ctx: Ctx, passes: Seq[Pass]): Seq[Map[String, Any]] = {
    val spans = Layers.inPasses(ctx, passes)
    val self = Tracer.selfNs(spans)
    val kids = spans.groupBy(_.parent)
    val busyMs = ctx.meter.map(m => m.synchronized(m.bySpan.map { case (id, c) => id -> c.taskBusyMs }.toMap))
      .getOrElse(Map.empty[Long, Long]).withDefaultValue(0L)
    val n = passes.size.toDouble
    spans.filter(_.name == "query").groupBy(_.attrs("name")).toSeq.sortBy(_._1).map { case (q, qs) =>
      val phases = qs.flatMap(s => kids.getOrElse(s.id, Nil))
      def selfS(phase: String) = phases.filter(_.name == phase).map(s => self(s.id)).sum / 1e9 / n
      val jobs = phases.flatMap(s => kids.getOrElse(s.id, Nil)).count(_.name == "job")
      val busyS = phases.map(s => busyMs(s.id)).sum / 1000.0 / n
      val wallS = qs.map(_.durNs).sum / 1e9 / n
      Map("query" -> q, "wall_s" -> wallS, "build_self_s" -> selfS("build"),
        "exec_self_s" -> selfS("exec"), "jobs" -> jobs / n, "task_busy_s" -> busyS,
        "core_util" -> busyS / (wallS * Main.Cpus))
    }
  }
}
