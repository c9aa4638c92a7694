package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc._
import graft.model.HealthcareSchema
import graft.semantic.{QueryBuilder, SemanticModel}

/** Seeded source database plus its change feed: the four healthcare tables
  * as string row images, and Debezium-envelope micro-batches that mutate
  * them. The feed keeps the argmax-lsn state of every row, which is what a
  * correct destination must hold after each batch.
  */
final class Feed(seed: Long, patients: Int, doctors: Int, appointments: Int) {
  private val rng = new java.util.SplittableRandom(seed)
  val rows: Map[String, mutable.LinkedHashMap[Long, Map[String, String]]] =
    HealthcareSchema.all.keys.map(_ -> mutable.LinkedHashMap.empty[Long, Map[String, String]]).toMap
  val deleted: Map[String, mutable.Set[Long]] =
    HealthcareSchema.all.keys.map(_ -> mutable.Set.empty[Long]).toMap
  private var lsn = 1000L
  private var clockMs = java.time.Instant.parse("2025-01-15T08:00:00Z").toEpochMilli
  private val day0 = java.time.LocalDate.parse("2024-01-01")
  private var nextAppt = appointments + 1L
  private var nextVisit = 1L

  private val statuses = HealthcareSchema.AppointmentStatuses
  private val specs = Seq("Cardiology", "Dermatology", "Neurology", "Pediatrics", "Oncology")
  private val reasons = Seq("checkup", "follow-up", "pain", "consultation", "screening")
  private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def ts(ms: Long): String =
    java.time.LocalDateTime.ofEpochSecond(ms / 1000, 0, java.time.ZoneOffset.UTC).format(fmt)

  private def apptImage(id: Long): Map[String, String] = {
    // appointment dates rise with the id: high ids are the recent ones
    val date = day0.plusDays(id * 400 / math.max(appointments, 1))
    Map("patient_id" -> (1 + rng.nextInt(patients)).toString,
      "doctor_id" -> (1 + rng.nextInt(doctors)).toString,
      "appointment_date" -> date.toString,
      "appointment_time" -> f"${8 + rng.nextInt(10)}%02d:${rng.nextInt(4) * 15}%02d:00",
      "status" -> pick(Seq("scheduled", "confirmed", "completed", "cancelled")),
      "reason_for_visit" -> pick(reasons),
      "appointment_type" -> pick(HealthcareSchema.AppointmentTypes),
      "created_at" -> s"$date 07:00:00",
      "updated_at" -> null)
  }

  private def visitImage(appt: Long): Map[String, String] = {
    val a = rows("appointments")(appt)
    val start = java.time.LocalDateTime.parse(s"${a("appointment_date")}T${a("appointment_time")}")
    Map("appointment_id" -> appt.toString,
      "patient_id" -> a("patient_id"), "doctor_id" -> a("doctor_id"),
      "visit_date" -> a("appointment_date"), "visit_start_time" -> start.format(fmt),
      "visit_end_time" -> start.plusMinutes(30).format(fmt),
      "diagnosis" -> pick(Seq("healthy", "flu", "sprain", "migraine")),
      "treatment_notes" -> pick(Seq("rest", "fluids", "follow up")),
      "follow_up_required" -> rng.nextBoolean().toString,
      "prescription_given" -> rng.nextBoolean().toString,
      "total_charge" -> f"${50 + rng.nextInt(450)}.${rng.nextInt(100)}%02d")
  }

  /** The initial snapshot (written once, before any event). */
  def snapshot(): Unit = {
    (1L to doctors).foreach { id =>
      rows("doctors")(id) = Map("first_name" -> s"Doc$id", "last_name" -> s"Smith$id",
        "specialization" -> pick(specs), "department" -> pick(specs),
        "phone" -> f"555-01$id%02d", "email" -> s"doc$id@clinic.test",
        "years_of_experience" -> (1 + rng.nextInt(30)).toString,
        "accepting_new_patients" -> rng.nextBoolean().toString)
    }
    (1L to patients).foreach { id =>
      rows("patients")(id) = Map("first_name" -> s"Pat$id", "last_name" -> s"Lee$id",
        "date_of_birth" -> day0.minusDays(5000 + rng.nextInt(20000)).toString,
        "phone" -> s"555-$id", "email" -> s"p$id@mail.test", "address" -> s"$id Main St",
        "city" -> pick(Seq("Austin", "Boston", "Denver")), "state" -> pick(Seq("TX", "MA", "CO")),
        "insurance_provider" -> pick(Seq("Aetna", "Cigna", "none")),
        "registration_date" -> "2023-06-01 10:00:00")
    }
    (1L to appointments).foreach { id => rows("appointments")(id) = apptImage(id) }
    rows("appointments").keys.toSeq.filter(_ => rng.nextInt(3) == 0).foreach { a =>
      rows("visits")(nextVisit) = visitImage(a); nextVisit += 1
    }
  }

  /** A live appointment id, skewed toward recent ones. */
  private def recentAppt(): Option[Long] = {
    val hi = nextAppt - 1
    Iterator.continually {
      val u = rng.nextDouble()
      hi - (hi * u * u * u * u).toLong
    }.take(20).find(id => id >= 1 && rows("appointments").contains(id) &&
      !deleted("appointments")(id))
  }

  private def json(m: Map[String, String]): String =
    m.map { case (k, v) => Json.str(k) + ":" + (if (v == null) "null" else Json.str(v)) }
      .mkString("{", ",", "}")

  private def event(table: String, op: String, key: Long,
      image: Option[Map[String, String]]): String = {
    lsn += 1
    clockMs += 100
    val keyCol = HealthcareSchema.keyColumns(table)
    val before = if (op == "d") json(Map(keyCol -> key.toString)) else "null"
    val after = image.map(m => json(m + (keyCol -> key.toString))).getOrElse("null")
    s"""{"payload":{"before":$before,"after":$after,"source":{"connector":"postgresql",""" +
      s""""table":"$table","lsn":$lsn,"ts_ms":$clockMs},"op":"$op","ts_ms":$clockMs}}"""
  }

  /** One micro-batch of `n` events: status updates on recent appointments,
    * new appointments, soft deletes and visit inserts. Applies each event
    * to the feed's own state.
    */
  def batch(n: Int): Seq[String] = Seq.fill(n) {
    val r = rng.nextDouble()
    (if (r < 0.75) recentAppt() else None) match {
      case Some(id) if r < 0.50 =>
        val a = rows("appointments")(id)
        val i = statuses.indexOf(a("status"))
        val next =
          if (rng.nextInt(10) == 0) pick(Seq("cancelled", "no_show"))
          else if (i >= 4) "scheduled" else statuses(i + 1)
        val img = a + ("status" -> next) + ("updated_at" -> ts(clockMs))
        rows("appointments")(id) = img
        event("appointments", "u", id, Some(img))
      case Some(id) if r < 0.65 =>
        val v = nextVisit; nextVisit += 1
        val img = visitImage(id)
        rows("visits")(v) = img
        event("visits", "c", v, Some(img))
      case Some(id) =>
        deleted("appointments") += id
        event("appointments", "d", id, None)
      case None =>
        val id = nextAppt; nextAppt += 1
        val img = apptImage(id)
        rows("appointments")(id) = img
        event("appointments", "c", id, Some(img))
    }
  }

  def liveAppointments: Seq[Map[String, String]] =
    rows("appointments").collect { case (k, v) if !deleted("appointments")(k) => v }.toSeq
}

/** Timing decorator around a destination: each call is a span, and the
  * merge records which buckets each commit rewrote (from manifest diffs).
  */
final class TimedDestination(inner: BucketedTableStore, tracer: Tracer, buckets: Int)
    extends CdcDestination {
  /** Share of buckets each merge rewrote, while [[counting]] is set. */
  val touchedFracs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var counting = false

  def read(table: String): DataFrame =
    tracer.span("store.read", "table" -> table)(inner.read(table))
  def commitSnapshot(table: String, df: DataFrame, keyCol: String): Long =
    tracer.span("snapshot", "table" -> table)(inner.commitSnapshot(table, df, keyCol))
  def mergeBatch(table: String, events: DataFrame, keyCol: String, applyTs: Column): Long = {
    val before = if (counting) inner.manifest(table) else Map.empty[Int, Long]
    val v = tracer.span(s"merge[$table]")(inner.mergeBatch(table, events, keyCol, applyTs))
    if (counting) {
      val after = inner.manifest(table)
      touchedFracs += after.count { case (b, ver) => !before.get(b).contains(ver) }.toDouble / buckets
    }
    v
  }
  def appendJournal(table: String, events: DataFrame): Unit =
    tracer.span("journal", "table" -> table)(inner.appendJournal(table, events))
  def readJournal(table: String): DataFrame = inner.readJournal(table)
  def vacuumJournal(table: String, olderThan: java.time.LocalDate): Seq[String] =
    inner.vacuumJournal(table, olderThan)
}

/** The live-appointments scenario: a closed loop with one client. Each
  * batch is parsed from Debezium JSON (`DebeziumSource.parse`), applied
  * through `CdcPipeline.applyEventBatch` into a `BucketedTableStore`, and
  * followed by the three verified semantic queries over `store.read`; the
  * next batch is handed over only when those reads finish.
  *
  * Output checks, each a failed operation when it does not match: after
  * every batch, `total_appointments_summary` must equal the feed's own count
  * of live appointments, patients and doctors; after the run, every table in
  * the store must equal the feed's argmax-lsn state.
  */
object CdcLive {
  val Patients = 1000
  val Doctors = 40
  val Appointments = 5000
  val Buckets = 8
  val BatchEvents = 200
  /** The first batch takes about 11 s and the next three fall from about
    * 5.0 to 4.1 s; from the fifth on, batches take about 3.5 to 3.9 s and
    * still drift down a few percent per batch.
    */
  val WarmupBatches = 4
  /** Timed passes (one batch each) per run: one per this many seconds. */
  val NominalPassS = 4.0
  val Verified = Seq("total_appointments_summary", "appointments_modified_recently",
    "revenue_by_doctor")

  def layerNames: Seq[String] = Seq(
    "cdc.parse_ms", "cdc.apply_ms", "cdc.merge_ms", "cdc.journal_ms",
    "cdc.pipeline_self_ms", "cdc.jobs_per_batch", "cdc.events_per_s", "cdc.read_ms",
    "store.buckets_touched_frac", "store.bytes_written_per_event",
    "journal.bytes_written_per_event", "store.read_ms", "store.live_files",
    "semantic.compile_ms", "semantic.exec_ms", "semantic.jobs")

  private val keyCols = HealthcareSchema.keyColumns

  /** Row images typed onto the table's schema, the way the applier casts
    * after-images.
    */
  private def typed(spark: SparkSession, table: String,
      images: Iterable[(Long, Map[String, String])]): DataFrame = {
    import spark.implicits._
    val keyCol = keyCols(table)
    images.toSeq.toDF("key", "after").select(
      col("key").as(keyCol) +: CdcApplier.afterImageColumns(HealthcareSchema.all(table), keyCol): _*)
  }

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val g0 = System.nanoTime()
    val feed = new Feed(ctx.seed, Patients, Doctors, Appointments)
    feed.snapshot()
    val snapshot = feed.rows.map { case (t, rs) => t -> rs.toSeq }
    val genS = (System.nanoTime() - g0) / 1e9

    val root = Paths.get(ctx.workDir, "store")
    val store = new BucketedTableStore(spark, root.toString, Buckets)
    val dest = new TimedDestination(store, tracer, Buckets)
    val pipeline = new CdcPipeline(spark, dest, HealthcareSchema.all, keyCols)
    val b0 = System.nanoTime()
    pipeline.loadSnapshot(snapshot.map { case (t, rs) => t -> typed(spark, t, rs) })
    val bootS = (System.nanoTime() - b0) / 1e9
    val model = SemanticModel.loadResource("/healthcare_semantic_model.yaml")
    val qb = new QueryBuilder(model, dest.read)

    val applyMs = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    var batches = 0
    var mismatches = 0
    var events = 0L
    var storeBytes = 0L
    var journalBytes = 0L
    def sizes(): (Long, Long) = {
      val ts = HealthcareSchema.all.keys.toSeq
      (ts.map(t => bytesUnder(root.resolve(t))).sum,
        ts.map(t => bytesUnder(root.resolve(s"${t}_journal"))).sum)
    }

    /** One closed-loop step; `timed` batches feed the metrics. */
    def step(timed: Boolean): Op = {
      val (lines, raw, (s0, j0)) = tracer.span("feed") {
        val ls = feed.batch(BatchEvents)
        (ls, spark.createDataset(ls)(Encoders.STRING).toDF("value"), sizes())
      }
      ctx.isolate(gc = true)
      dest.counting = timed && tracer.enabled
      var results = Map.empty[String, Array[Row]]
      var aMs = 0.0
      val op = tracer.span("batch", "n" -> batches.toString) {
        ctx.timed(s"batch$batches", "batch") {
          val a0 = System.nanoTime()
          val parsed = tracer.span("parse")(DebeziumSource.parse(raw, keyCols))
          tracer.span("apply")(pipeline.applyEventBatch(parsed))
          aMs = (System.nanoTime() - a0) / 1e6
          results = Verified.map { q =>
            q -> tracer.span("read", "query" -> q) {
              val df = tracer.span("compile")(qb.verified(q))
              tracer.span("collect")(df.collect())
            }
          }.toMap
        }
      }
      batches += 1
      // read-after-write check against the feed's own state
      val live = feed.liveAppointments
      val want = Seq(live.size.toLong, live.map(_("patient_id")).distinct.size.toLong,
        live.map(_("doctor_id")).distinct.size.toLong)
      val got = results.get("total_appointments_summary").flatMap(_.headOption)
        .map(r => Seq(r.getAs[Long]("total_appointments"), r.getAs[Long]("unique_patients"),
          r.getAs[Long]("unique_doctors")))
      if (!op.ok || !got.contains(want)) {
        mismatches += 1
        System.err.println(s"[perfbench] batch ${batches - 1}: summary $got, feed $want")
      }
      if (timed && op.ok) {
        val (s1, j1) = tracer.span("feed")(sizes())
        applyMs += aMs
        readMs += op.ms - aMs
        events += lines.size
        storeBytes += s1 - s0
        journalBytes += j1 - j0
      }
      op
    }

    val w0 = System.nanoTime()
    val warm = tracer.span("warmup")((1 to WarmupBatches).map(_ => step(timed = false)))
    val setupS = genS + bootS + (System.nanoTime() - w0) / 1e9
    val passes = ctx.timedPasses(NominalPassS)(_ => Seq(step(timed = true)))

    // final state: the store must hold exactly the feed's argmax-lsn rows
    val finalDiff = HealthcareSchema.all.keys.toSeq.sorted.map { t =>
      val cols = col(keyCols(t)) +: HealthcareSchema.all(t).fieldNames
        .filterNot(_ == keyCols(t)).map(col).toSeq :+ col(CdcApplier.MetaDeleted)
      val want = typed(spark, t, feed.rows(t))
        .withColumn(CdcApplier.MetaDeleted, col(keyCols(t)).isin(feed.deleted(t).toSeq: _*))
        .select(cols: _*)
      val got = store.read(t).select(cols: _*)
      t -> want.exceptAll(got).union(got.exceptAll(want)).count()
    }.toMap
    val finalBad = finalDiff.values.sum > 0
    if (finalBad) System.err.println(s"[perfbench] final-state mismatches: $finalDiff")

    val liveFiles = HealthcareSchema.all.keys.toSeq.flatMap { t =>
      store.manifest(t).toSeq.map { case (b, v) =>
        val s = Files.list(root.resolve(t).resolve(s"b$b").resolve(s"v$v"))
        try s.filter(_.getFileName.toString.endsWith(".parquet")).count() finally s.close()
      }
    }.sum

    val applyS = applyMs.sum / 1000
    val details = Map(
      "batches" -> batches,
      "warmup_batch_ms" -> warm.map(_.ms),
      "timed_batch_ms" -> passes.flatMap(_.ops).map(_.ms),
      "events_per_batch" -> BatchEvents,
      "read_after_write_mismatches" -> mismatches,
      "final_state_mismatches" -> finalDiff,
      "bootstrap_s" -> bootS,
      "cdc_events_per_s" -> events / applyS,
      "cdc_apply_p50_ms" -> Stats.median(applyMs.toSeq),
      "cdc_apply_tail" -> Stats.tail(applyMs.toSeq),
      "cdc_read_p50_ms" -> Stats.median(readMs.toSeq),
      "cdc_read_tail" -> Stats.tail(readMs.toSeq),
      "cdc_store_bytes_per_event" -> storeBytes.toDouble / events,
      "journal_bytes_per_event" -> journalBytes.toDouble / events)
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else cdcLayers(ctx, passes, dest, events, applyS, storeBytes, journalBytes, liveFiles)
    Outcome(setupS, passes, attempted = batches + 1,
      failed = mismatches + (if (finalBad) 1 else 0), layers, details)
  }

  private def cdcLayers(ctx: Ctx, passes: Seq[Pass], dest: TimedDestination,
      events: Long, applyS: Double, storeBytes: Long, journalBytes: Long,
      liveFiles: Long): Map[String, Double] = {
    val spans = Layers.inPasses(ctx, passes)
    val kids = spans.groupBy(_.parent)
    val self = Tracer.selfNs(spans)
    val n = passes.map(_.ops.size).sum.toDouble
    def named(p: String => Boolean) = spans.filter(s => p(s.name))
    def ms(ss: Seq[Span]) = ss.map(_.durNs).sum / 1e6 / n
    def subtreeJobs(roots: Seq[Span]): Int = {
      var frontier = roots
      var jobs = 0
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(s => kids.getOrElse(s.id, Nil))
        jobs += next.count(_.name == "job")
        frontier = next.filter(_.name != "job")
      }
      jobs
    }
    val applies = named(_ == "apply")
    val destCalls = Set("journal", "store.read") ++ HealthcareSchema.all.keys.map(t => s"merge[$t]")
    val pipelineSelf = applies.map { a =>
      a.durNs - Tracer.union(kids.getOrElse(a.id, Nil).filter(c => destCalls(c.name))
        .map(c => (c.startNs, c.endNs)))
    }.sum / 1e6 / n
    val reads = named(_ == "read")
    val touched = dest.touchedFracs
    Map(
      "cdc.parse_ms" -> ms(named(_ == "parse")),
      "cdc.apply_ms" -> ms(applies),
      "cdc.merge_ms" -> ms(named(_.startsWith("merge["))),
      "cdc.journal_ms" -> ms(named(_ == "journal")),
      "cdc.pipeline_self_ms" -> pipelineSelf,
      "cdc.jobs_per_batch" -> subtreeJobs(applies) / n,
      "cdc.events_per_s" -> events / applyS,
      "cdc.read_ms" -> ms(reads),
      "store.buckets_touched_frac" ->
        (if (touched.isEmpty) 0.0 else touched.sum / touched.size),
      "store.bytes_written_per_event" -> storeBytes.toDouble / events,
      "journal.bytes_written_per_event" -> journalBytes.toDouble / events,
      "store.read_ms" -> ms(named(_ == "store.read")),
      "store.live_files" -> liveFiles.toDouble,
      "semantic.compile_ms" -> named(_ == "compile").map(s => self(s.id)).sum / 1e6 / n,
      "semantic.exec_ms" -> ms(named(_ == "collect")),
      "semantic.jobs" -> subtreeJobs(reads) / n)
  }
}
