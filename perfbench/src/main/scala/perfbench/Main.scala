package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One timed operation: a query (build + materialize) or a CDC batch
  * (parse + apply + verified reads). A failed operation records no time.
  */
final case class Op(name: String, group: String, ms: Double, cpuMs: Double,
    gcMs: Double, jitMs: Double, codegens: Long, ok: Boolean)

/** One timed pass: a fixed unit of work, the same in every run of a
  * workload. `spanId` is the pass's root span (0 when untraced).
  */
final case class Pass(ops: Seq[Op], startNs: Long, endNs: Long, spanId: Long) {
  def wallS: Double = ops.filter(_.ok).map(_.ms).sum / 1000.0
  def cpuS: Double = ops.filter(_.ok).map(_.cpuMs).sum / 1000.0
}

/** What a workload hands back: its set-up time, the timed passes, how many
  * operations it attempted and how many failed (a thrown operation or an
  * output check that did not match), and layer metrics from the trace.
  */
final case class Outcome(setupS: Double, passes: Seq[Pass], attempted: Int,
    failed: Int, layers: Map[String, Double], details: Map[String, Any])

/** Shared run state: the session, the tracer, the meter and the run's knobs. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val meter: Option[SparkMeter], val seed: Long, val seconds: Double,
    val dataDir: String, val workDir: String) {
  /** Untimed gap between operations: drop cached relations so one
    * operation's leftovers cannot bill to the next; with `gc`, also a full
    * GC, so each pass starts from the same heap.
    */
  def isolate(gc: Boolean): Unit = tracer.span("isolate") {
    spark.catalog.clearCache()
    if (gc) Proc.fullGc()
  }

  /** Time one operation, recording its wall, process CPU, GC and JIT time,
    * and how many classes Spark generated and compiled for it.
    */
  def timed(name: String, group: String)(body: => Unit): Op = {
    val gc0 = Proc.gcMs
    val jit0 = Proc.jitMs
    val cg0 = Proc.codegens
    val cpu0 = Proc.cpuNs
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(300))
          false
      }
    Op(name, group, (System.nanoTime() - t0) / 1e6, (Proc.cpuNs - cpu0) / 1e6,
      (Proc.gcMs - gc0).toDouble, (Proc.jitMs - jit0).toDouble, Proc.codegens - cg0, ok)
  }

  /** Run the timed passes: one per `nominalPassS` of `seconds` (the warm
    * pass length the workload is sized to on a 4-core machine), at least
    * one. A fixed count, not a deadline: a pass that ends just before or
    * after a deadline would change how warm the next pass runs. Each pass
    * starts from a full GC. `peak_heap_mb` watches the GCs inside the passes.
    */
  def timedPasses(nominalPassS: Double)(onePass: Int => Seq[Op]): Seq[Pass] = {
    val n = math.max(1, math.round(seconds / nominalPassS).toInt)
    (0 until n).map { i =>
      isolate(gc = true)
      var id = 0L
      val t0 = System.nanoTime()
      HeapPeak.start()
      val ops = try tracer.span("pass", "pass" -> i.toString) {
        id = tracer.current
        onePass(i)
      } finally HeapPeak.stop()
      Pass(ops, t0, System.nanoTime(), id)
    }
  }
}

/** Benchmark harness entry point, launched by `perfbench/run.py`.
  *
  * {{{
  * Main --workload pipeline|cdc_live --seed N --seconds S --trace 0|1
  *      --data DIR --work DIR --out FILE [--check DIR]
  * }}}
  *
  * Runs one workload at `local[4]` in this JVM and writes one JSON record
  * to `--out`: end-to-end metrics, per-layer metrics (traced runs), the
  * per-operation samples and the environment. With `--trace 1` it also
  * writes the span file next to the record.
  */
object Main {
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val loadStart = Proc.loadavg()
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(opt("work"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    HeapPeak.install()
    val meter = if (traced) {
      val m = new SparkMeter(SparkMeter.nanoOffset())
      spark.sparkContext.addSparkListener(m)
      Some(m)
    } else None
    val ctx = new Ctx(spark, new Tracer(traced, spark.sparkContext), meter,
      opt("seed").toLong, opt("seconds").toDouble, opt("data"), opt("work"))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val outcome = workload match {
      case "pipeline" => Suites.run(ctx, opts.get("check"))
      case "cdc_live" => CdcLive.run(ctx)
      case other => sys.error(s"unknown workload $other (pipeline|cdc_live)")
    }
    val passes = outcome.passes
    val okOps = passes.flatMap(_.ops).filter(_.ok)
    val e2e = Map(
      "setup_s" -> (sessionS + outcome.setupS),
      "suite_s" -> Stats.median(passes.map(_.wallS)),
      "op_geomean_ms" -> Stats.geomean(okOps.map(_.ms)),
      "peak_heap_mb" -> HeapPeak.mb)
    val tail = Stats.tail(okOps.map(_.ms))
    val layers = meter.map { m =>
      val measured = Layers.spark(ctx, m, passes) ++ outcome.layers +
        ("jvm.cpu_s" -> Stats.median(passes.map(_.cpuS)))
      scala.collection.immutable.ListMap(Layers.names.map(k => k -> measured.getOrElse(k, 0.0)): _*)
    }.getOrElse(Map.empty)
    val record = Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "traced" -> traced,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "span_table" -> (if (traced) Layers.spanTable(ctx, passes).map { case (n, c, t, sf) =>
        Map("span" -> n, "count" -> c, "total_ms" -> t, "self_ms" -> sf)
      } else Nil),
      "suite_cpu_s" -> Stats.median(passes.map(_.cpuS)),
      "op_p50_ms" -> (if (okOps.isEmpty) None else Some(Stats.median(okOps.map(_.ms)))),
      "op_tail" -> tail.map { case (p, v) =>
        Map("percentile" -> p, "ms" -> v, "samples" -> okOps.size)
      },
      "passes" -> passes.map(p => Map("wall_s" -> p.wallS, "cpu_s" -> p.cpuS)),
      "ops" -> passes.zipWithIndex.flatMap { case (p, i) =>
        p.ops.map(o => Map("pass" -> i, "name" -> o.name, "group" -> o.group,
          "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "gc_ms" -> o.gcMs, "jit_ms" -> o.jitMs,
          "codegens" -> o.codegens, "ok" -> o.ok))
      },
      "details" -> outcome.details,
      "timed_gcs" -> HeapPeak.collections,
      "timed_wall_s" -> passes.map(p => (p.endNs - p.startNs) / 1e9).sum,
      "jvm_s" -> (System.currentTimeMillis() - jvmStartMs) / 1000.0,
      "env" -> Map(
        "cpus" -> Cpus,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "loadavg_start" -> loadStart,
        "loadavg_end" -> Proc.loadavg(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version")))
    Files.writeString(Paths.get(opt("out")), Json(record))
    if (traced) {
      val spansFile = Paths.get(opt("out").stripSuffix(".json") + ".spans.jsonl")
      val t0 = ctx.tracer.spans.map(_.startNs).minOption.getOrElse(0L)
      val lines = ctx.tracer.spans.sortBy(_.startNs).map { s =>
        Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> (s.startNs - t0) / 1e6, "dur_ms" -> s.durNs / 1e6,
          "attrs" -> s.attrs))
      }
      Files.writeString(spansFile, lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}
