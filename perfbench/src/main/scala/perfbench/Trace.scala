package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, String]) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder around the harness's calls into each layer.
  *
  * With tracing off, [[span]] only runs its body: the untraced run pays one
  * branch per call. With tracing on, each span records start and end, its
  * parent (the enclosing span on this thread) and sets the Spark local
  * property [[Tracer.SpanProp]], so the [[SparkMeter]] attributes every job
  * the call launches to the span as a child.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack.empty[Long]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def current: Long = if (stack.isEmpty) 0L else stack.top

  def span[T](name: String, attrs: (String, String)*)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      stack.push(id)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProp, if (stack.isEmpty) null else stack.top.toString)
        spans += Span(id, parent, name, t0, t1, attrs.toMap)
      }
    }

  /** A span recorded from outside (a Spark job), under an existing parent. */
  def record(parent: Long, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, String]): Unit =
    spans += Span(ids.incrementAndGet(), parent, name, startNs, endNs, attrs)
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Self time per span: its duration minus the union of its children's
    * intervals (clipped to the span).
    */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side counters, keyed by the span that launched the work.
  *
  * Jobs become child spans of the launching span (through the local
  * property the [[Tracer]] sets). Stage and task counts, task busy time,
  * scan, shuffle and spill bytes are summed per launching span.
  */
final class SparkMeter(nanoOffset: Long) extends SparkListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskBusyMs = 0L
    var scanBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskBusyMs += o.taskBusyMs
      scanBytes += o.scanBytes; shuffleRead += o.shuffleRead
      shuffleWrite += o.shuffleWrite; spill += o.spill
    }
  }
  val bySpan: mutable.Map[Long, Counts] = mutable.Map.empty
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Long)] // job -> (span, startNs)
  /** (launching span, startNs, endNs, job id) of every finished job. */
  val jobs: mutable.ArrayBuffer[(Long, Long, Long, Int)] = mutable.ArrayBuffer.empty

  private def counts(span: Long) = bySpan.getOrElseUpdate(span, new Counts)
  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
  // listener timestamps are wall-clock millis; spans use nanoTime
  private def toNs(ms: Long): Long = ms * 1000000L - nanoOffset

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    counts(s).jobs += 1
    jobStart(e.jobId) = (s, toNs(e.time))
    e.stageIds.foreach(stageSpan(_) = s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, t0) => jobs += ((s, t0, toNs(e.time), e.jobId)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageSpan.getOrElse(e.stageId, 0L))
    c.tasks += 1
    c.taskBusyMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.scanBytes += m.inputMetrics.bytesRead
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object SparkMeter {
  /** Offset that maps wall-clock nanos onto the nanoTime axis. */
  def nanoOffset(): Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
}

/** Process-level readings from the JVM's management beans. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** A full GC, a pause for Spark's cleaner thread to drop what that GC
    * released, and a second full GC.
    */
  def fullGc(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
  }

  /** Time the JIT compiler threads have spent compiling, summed. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Classes Spark's code generator has compiled in this JVM (cache misses). */
  def codegens: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def loadavg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }
}

/** The peak heap in use after GC, per timed pass: on every collection the
  * JVM reports while a pass runs, the heap pools' combined usage after that
  * collection, kept as the pass's maximum. Collections inside an operation
  * count, so heap a query or batch holds while it runs shows.
  */
object HeapPeak {
  @volatile private var armed = false
  @volatile private var peakBytes = 0L
  @volatile var collections = 0
  private val passPeaks = mutable.ArrayBuffer.empty[Double]

  def start(): Unit = synchronized { peakBytes = 0L; armed = true }
  def stop(): Unit = synchronized { armed = false; passPeaks += peakBytes / 1048576.0 }

  /** Median over the timed passes of each pass's peak, in MB. */
  def mb: Double = synchronized(Stats.median(passPeaks.toSeq))

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
        if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          HeapPeak.synchronized { peakBytes = math.max(peakBytes, used); collections += 1 }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** Minimal JSON rendering for the harness's records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Order statistics over timing samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Geometric mean: every operation weighs the same in relative terms. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** The highest percentile with at least 10 samples beyond it, as
    * (percentile, value), or None when there are fewer than 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    val pct = ((n - 10) * 100) / n
    if (n < 11 || pct <= 0) None
    else {
      val s = xs.sorted
      // nearest-rank: the value at rank ceil(pct/100 * n) leaves >= 10 above
      val rank = math.max(1, math.ceil(pct / 100.0 * n).toInt)
      Some(pct -> s(rank - 1))
    }
  }
}
