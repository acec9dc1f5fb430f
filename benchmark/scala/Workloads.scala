package graftbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.concurrent.TimeUnit

import scala.collection.mutable

import graft.SparkEntry
import graft.model.{DetectionEvent, ErrorCode}
import graft.sources.ProbeCatalogSource.{CatalogEntry, SimulatedProber}
import graft.streaming.DetectionPipeline
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** A streaming query whose progress events become trigger spans; the
  * batches `measured` accepts belong to the measured window. */
final case class Stream(query: StreamingQuery, name: String, measured: Long => Boolean)

/** What a workload hands back for the end-to-end metrics. */
final case class Outcome(passes: Int, stepMs: Seq[Double], busyS: Seq[Double],
    streams: Seq[Stream] = Nil)

object Workloads {
  val Day0: LocalDate = LocalDate.of(2024, 6, 1)
  val Cadence: Long = DetectionPipeline.ProbeTriggerSeconds * 1000L

  def run(ctx: Ctx): Outcome = ctx.opts.workload match {
    case "day_cycle" => dayCycle(ctx)
    case "backfill" => backfill(ctx)
    case "query_mix" => queryMix(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Next progress event of a query, or a failure if it stalls. */
  private def nextProgress(ctx: Ctx, q: StreamingQuery): StreamingQueryProgress = {
    val p = ctx.trace.progressOf(q.id).poll(120, TimeUnit.SECONDS)
    if (p == null) throw new IllegalStateException(s"no progress from ${q.name} in 120 s " +
      q.exception.map(_.getMessage).getOrElse(""))
    p
  }

  private def triggerMs(p: StreamingQueryProgress): Double =
    p.durationMs.get("triggerExecution").doubleValue

  /** Repeat `pass` (at least once) while one more pass, as long as the
    * last, would end nearer to --seconds than stopping now: the measured
    * time rounds to whole passes; returns each pass's busy seconds. */
  private def passes(ctx: Ctx)(pass: => Double): Seq[Double] = {
    val busy = mutable.ArrayBuffer.empty[Double]
    var lastS = 0.0
    while (busy.isEmpty || ctx.elapsedMeasuringS + lastS / 2 < ctx.opts.seconds) {
      val t0 = System.nanoTime()
      busy += pass
      lastS = (System.nanoTime() - t0) / 1e9
    }
    busy.toSeq
  }

  // ---- day_cycle: the reference lifecycle on its fixed 10 s schedule ----

  def dayCycle(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val nStreams = if (ctx.opts.tiny) 200 else 5000
    // 12 simulated hours of probes per 10 s trigger: two triggers a day,
    // each crossing a 120-min boundary (E2), the second also the
    // pre-midnight gate (E3).
    val batch = 43200
    val threshold = 3
    val inputs = Inputs(ctx.opts.seed, nStreams)
    val w = ctx.opts.work
    inputs.catalog.toDF().select("id", "url", "target_matching", "target_matching_id")
      .coalesce(1).write.parquet(s"$w/catalog")
    // the source probes catalog rows in the order it reads them back
    val order = spark.read.parquet(s"$w/catalog").collect().map(r =>
      CatalogEntry(r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    def source(size: Int, rounds: Int) = spark.readStream.format("graft.sources.ProbeCatalogProvider")
      .option("catalogPath", s"$w/catalog").option("batchSize", size.toString)
      .option("maxRounds", rounds.toString).load().as[DetectionEvent]
    def probe(seq: Long): DetectionEvent = {
      val r = SimulatedProber.probe(order((seq % order.length).toInt), seq)
      def s(i: Int) = r.getUTF8String(i).toString
      DetectionEvent(s(0), s(1), r.getInt(2), s(3), s(4), s(5), s(6), s(7), s(8), s(9),
        s(10), s(11), Inputs.micros(r.getLong(12)), s(13), s(14))
    }
    val baseSec = SimulatedProber.EpochBaseMicros / 1000000L
    val lc = new Lifecycle(ctx, inputs, "")
    def oracleDay(day: LocalDate, upToSec: Long): Map[String, FinRow] = {
      val from = day.atStartOfDay(ZoneOffset.UTC).toEpochSecond - baseSec
      Oracle.finalize(Oracle.rollup((from to upToSec - baseSec).iterator.map(probe)), inputs.programs)
    }
    val alerted = mutable.ArrayBuffer.empty[(Long, String, Int, Int)]
    /** Start ingest and the alert query beside it, on the same source. */
    def start(tag: String, size: Int, rounds: Int) = {
      lc.reset(s"$w/fact-$tag")
      val ingest = DetectionPipeline.ingest(source(size, rounds), s"$w/fact-$tag", s"$w/ck-ingest-$tag")
      val alerts = DetectionPipeline.statefulErrorAlerts(source(size, rounds), threshold).writeStream
        .queryName(s"alerts-$tag").option("checkpointLocation", s"$w/ck-alerts-$tag")
        .trigger(Trigger.ProcessingTime(Cadence))
        .foreachBatch { (ds: Dataset[(String, Int, Int)], id: Long) =>
          val rows = ds.collect()
          alerted.synchronized { alerted ++= rows.map { case (u, e, d) => (id, u, e, d) } }
          ()
        }.start()
      (ingest, alerts)
    }
    var lastBoundary = -1L
    /** Handle one ingest trigger: E2 when the committed clock crosses a
      * 120-min boundary, E3 after it at the pre-midnight gate. */
    def onTrigger(p: StreamingQueryProgress, commit: Boolean): Unit = {
      val end = p.sources.head.endOffset.toLong
      val clockSec = baseSec + end - 1
      val boundary = (end - 1) / (DetectionPipeline.ReportCadenceMinutes * 60L)
      if (end > 0 && boundary > lastBoundary) {
        lastBoundary = boundary
        val now = Instant.ofEpochSecond(clockSec)
        val day = now.atZone(ZoneOffset.UTC).toLocalDate
        lc.e2(day, now, oracleDay(day, clockSec))
        if (DetectionPipeline.isLastLoop(now, DetectionPipeline.ReportCadenceMinutes) || !commit)
          lc.e3(day, commit)
      }
    }

    // set-up: a warm-up stream takes the cold first trigger, then a warm
    // pass of E2 and a dry E3; its queries stop before measuring
    val (warmIngest, warmAlerts) = start("warmup", batch, 1)
    val first = nextProgress(ctx, warmIngest)
    nextProgress(ctx, warmAlerts)
    warmIngest.stop(); warmAlerts.stop()
    onTrigger(first, commit = false)
    alerted.clear()
    lastBoundary = -1L

    // The measured queries start on a cadence boundary, so every run sees
    // the same phase between triggers and the E2/E3 work they set off.
    // Their first trigger, a new query's first batch, and its E2 are still
    // set-up; the next `seconds / 10` triggers, one per 10 s, are measured.
    val idleMs = Cadence - System.currentTimeMillis() % Cadence
    Thread.sleep(idleMs)
    val (ingest, alerts) = start("day", batch, -1)
    /** One tick: the ingest trigger, then (once the alert query has
      * committed the same batch) its E2/E3, run alone. */
    def tick(): StreamingQueryProgress = {
      val p = nextProgress(ctx, ingest)
      while (ctx.trace.historyOf(alerts.id).size <= p.batchId) nextProgress(ctx, alerts)
      ctx.check(s"ingest trigger ${p.batchId}", Nil)
      onTrigger(p, commit = true)
      p
    }
    tick()
    ctx.endSetup(idleMs)

    val triggers = math.max(1, ctx.opts.seconds / (Cadence / 1000).toInt)
    val measured = (1 to triggers).map(_ => tick())
    val ingestMs = measured.map(triggerMs)
    val lateness = measured.map(p => (Instant.parse(p.timestamp).toEpochMilli % Cadence).toDouble)
    val rows = measured.map(_.numInputRows).sum
    while (ctx.trace.historyOf(alerts.id).size <= triggers) nextProgress(ctx, alerts)
    ingest.stop(); alerts.stop()
    ctx.trace.drain()
    ingest.exception.foreach(e => ctx.check("ingest query", Seq(e.getMessage)))
    alerts.exception.foreach(e => ctx.check("alert query", Seq(e.getMessage)))
    val alertProgress = ctx.trace.historyOf(alerts.id)
    val alertMs = alertProgress.slice(1, triggers + 1).map(triggerMs)
    alertProgress.foreach(p => ctx.check(s"alert trigger ${p.batchId}", Nil))

    // alert set: threshold crossings of the oracle fold over every batch
    // the alert query completed, no duplicates
    val want = Oracle.alerts(alertProgress.map { p =>
      val s = Option(p.sources.head.startOffset).map(_.toLong).getOrElse(0L)
      (s until p.sources.head.endOffset.toLong).map { q =>
        val ev = probe(q); (ev.url_id, ev.item != ErrorCode.OperationOk) }
    }, threshold).sorted
    val done = alertProgress.map(_.batchId).toSet
    var got = alerted.collect { case (b, u, e, d) if done(b) => (u, e, d) }.sorted.toSeq
    if (ctx.perturb("dup_alert")) got = got.take(1) ++ got
    ctx.check("alert set", (if (got != want) Seq(s"${got.size} alerts, oracle ${want.size}") else Nil) ++
      (if (got.map(_._1).distinct.size != got.size) Seq("duplicate alert") else Nil) ++
      (if (want.isEmpty) Seq("oracle has no alerts: the check would be vacuous") else Nil))

    ctx.named("ingest_trigger_ms_p50") = (Stats.median(ingestMs), "ms")
    ctx.named("alert_trigger_ms_p50") = (Stats.median(alertMs), "ms")
    ctx.named("ingest_events_per_s") = (rows / (ingestMs.sum / 1000.0), "events/s")
    ctx.named("report_cycle_ms_p50") = (Stats.median(lc.e2Ms.toSeq), "ms")
    ctx.named("day_close_ms_p50") = (Stats.median(lc.e3Ms.toSeq), "ms")
    ctx.layer("streaming.trigger_lateness_ms", lateness.sum, "ms")
    ctx.layer("streaming.factstore_files", lc.factFiles.maxOption.getOrElse(0.0), "count")
    ctx.facts ++= Seq("streams" -> nStreams, "probes_per_trigger" -> batch,
      "events" -> (triggers + 1L) * batch, "measured_events" -> rows,
      "days" -> ((triggers + 1L) * batch + 86399) / 86400, "triggers" -> triggers,
      "alert_threshold" -> threshold, "alerts" -> got.size,
      "ingest_trigger_ms" -> ingestMs, "alert_trigger_ms" -> alertMs,
      "e2_ms" -> lc.e2Ms.toSeq, "e3_ms" -> lc.e3Ms.toSeq)
    val busy = (ingestMs.sum + alertMs.sum + lc.e2Ms.sum + lc.e3Ms.sum) / 1000.0
    Outcome(1, lc.e2Ms.toSeq, Seq(busy), Seq(
      Stream(warmIngest, "trigger.ingest", _ => false), Stream(warmAlerts, "trigger.alerts", _ => false),
      Stream(ingest, "trigger.ingest", b => b >= 1 && b <= triggers),
      Stream(alerts, "trigger.alerts", b => b >= 1 && b <= triggers)))
  }

  // ---- backfill: an outage's backlog through one trigger, days closed ----

  def backfill(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val nStreams = if (ctx.opts.tiny) 200 else 5000
    // a 36 h outage from noon of Day0 to the midnight after Day0+1, at the
    // reference's ceiling density (2.5 probes/s, ~9k events/h); both
    // missed days are closed in order (full-day E2, then E3)
    val stepMicros = if (ctx.opts.tiny) 4000000L else 400000L
    val hours = 36L
    val start = Day0.atStartOfDay(ZoneOffset.UTC).plusHours(12).toInstant
    val startMicros = start.getEpochSecond * 1000000L
    val nEvents = hours * 3600L * 1000000L / stepMicros
    val now = start.plusSeconds(hours * 3600L).minusNanos(1000)
    val days = Seq(Day0, Day0.plusDays(1))
    val inputs = Inputs(ctx.opts.seed, nStreams)
    val w = ctx.opts.work
    val enc = Encoders.product[DetectionEvent]
    def stage(dir: String, n: Long): Unit =
      spark.range(0, n, 1, 8).map(i => inputs.event(i, startMicros, stepMicros))(enc)
        .write.parquet(dir)
    stage(s"$w/backlog", nEvents)
    stage(s"$w/warmup", 3600L * 1000000L / stepMicros)

    def indexOf(t: Instant) = (t.getEpochSecond * 1000000L - startMicros + stepMicros - 1) / stepMicros
    val oracle: Map[LocalDate, Map[String, FinRow]] = days.map { d =>
      val from = math.max(0L, indexOf(d.atStartOfDay(ZoneOffset.UTC).toInstant))
      val until = math.min(nEvents, indexOf(d.plusDays(1).atStartOfDay(ZoneOffset.UTC).toInstant))
      d -> Oracle.finalize(Oracle.rollup((from until until).iterator
        .map(inputs.event(_, startMicros, stepMicros))), inputs.programs)
    }.toMap

    var round = 0
    val lc = new Lifecycle(ctx, inputs, "")
    val queries = mutable.ArrayBuffer.empty[Stream]
    /** One catch-up: a fresh store and checkpoint, the whole staged
      * backlog in the first trigger, then E2 and E3 for each missed day. */
    def catchUp(dir: String, closeDays: Seq[LocalDate], oracleOf: LocalDate => Map[String, FinRow],
        commit: Boolean): StreamingQueryProgress = {
      round += 1
      lc.reset(s"$w/fact-$round")
      val q = DetectionPipeline.ingest(
        spark.readStream.schema(enc.schema).parquet(dir).as[DetectionEvent],
        s"$w/fact-$round", s"$w/ck-$round")
      queries += Stream(q, "trigger.ingest", _ => commit)
      val p = nextProgress(ctx, q)
      q.stop()
      q.exception.foreach(e => ctx.check("ingest query", Seq(e.getMessage)))
      ctx.check(s"ingest trigger round $round", Nil)
      closeDays.foreach { d =>
        val dayEnd = d.plusDays(1).atStartOfDay(ZoneOffset.UTC).toInstant.minusNanos(1000)
        val upTo = if (dayEnd.isAfter(now)) now else dayEnd
        lc.e2(d, upTo, oracleOf(d))
        if (DetectionPipeline.isLastLoop(upTo, DetectionPipeline.ReportCadenceMinutes) || !commit)
          lc.e3(d, commit)
      }
      p
    }

    val warmEvents = 3600L * 1000000L / stepMicros
    catchUp(s"$w/warmup", Seq(Day0), _ => Oracle.finalize(Oracle.rollup((0L until warmEvents)
      .iterator.map(inputs.event(_, startMicros, stepMicros))), inputs.programs), commit = false)
    ctx.endSetup()

    val triggers = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val e2 = mutable.ArrayBuffer.empty[Double]
    val e3 = mutable.ArrayBuffer.empty[Double]
    var files = 0.0
    val busy = passes(ctx) {
      val p = catchUp(s"$w/backlog", days, oracle, commit = true)
      triggers += p
      e2 ++= lc.e2Ms; e3 ++= lc.e3Ms
      files = math.max(files, lc.factFiles.maxOption.getOrElse(0.0))
      (triggerMs(p) + lc.e2Ms.sum + lc.e3Ms.sum) / 1000.0
    }
    ctx.named("ingest_trigger_ms_p50") = (Stats.median(triggers.map(triggerMs).toSeq), "ms")
    ctx.named("ingest_events_per_s") =
      (triggers.map(_.numInputRows).sum / (triggers.map(triggerMs).sum / 1000.0), "events/s")
    ctx.named("report_cycle_ms_p50") = (Stats.median(e2.toSeq), "ms")
    ctx.named("day_close_ms_p50") = (Stats.median(e3.toSeq), "ms")
    ctx.layer("streaming.factstore_files", files, "count")
    ctx.facts ++= Seq("streams" -> nStreams, "events" -> nEvents, "days" -> days.size,
      "probes_per_trigger" -> nEvents, "backlog_hours" -> hours, "rounds" -> busy.size,
      "ingest_trigger_ms" -> triggers.map(triggerMs).toSeq, "e2_ms" -> e2.toSeq, "e3_ms" -> e3.toSeq)
    Outcome(busy.size, e2.toSeq, busy, queries.toSeq)
  }

  // ---- query_mix: serial passes over eight registered queries ----

  val MixQueries: Seq[String] = Seq("qr1_detection_pipeline", "q3_first_nonempty",
    "q12_revenue_join", "x39_neardup_clusters", "x66_boilerplate", "x128_price_outliers",
    "x148_link_pred", "x256_audio_keepone")

  def queryMix(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.opts.data
    val order = new scala.util.Random(ctx.opts.seed).shuffle(MixQueries)
    val out = s"${ctx.opts.work}/out"
    // set-up warm pass: every query once, four at a time, its output
    // kept for the oracle check
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try order.map { n =>
      pool.submit(new Runnable {
        def run(): Unit = ctx.guarded(s"query $n (warm)") {
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(s"$out/$n")
          ctx.facts.synchronized(ctx.facts(s"cold_ms.$n") = (System.nanoTime() - t0) / 1e6)
        }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    ctx.facts("warm_pass_s") = ctx.sinceStartS
    val oracle = order.map(n => s""""$n": ${Json.str(SparkEntry.oracleSql(n))}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      oracle.mkString("{", ",\n", "}"))

    // serial, closed-loop passes in the seeded order; the first is still
    // set-up: in trials it ran ~25% slower than the passes after it
    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def pass(): Double =
      order.map { n =>
        val t0 = System.nanoTime()
        ctx.guarded(s"query $n") {
          ctx.trace.span(s"query:$n") {
            SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
          }
          ctx.check(s"query $n", Nil)
        }
        val ms = (System.nanoTime() - t0) / 1e6
        if (ctx.trace.measuring) walls.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms
        ms
      }.sum / 1000.0
    ctx.facts("serial_warm_pass_s") = pass()
    ctx.endSetup()
    val busy = passes(ctx)(pass())
    ctx.named("mix_wall_s") = (Stats.median(busy), "s")
    ctx.facts ++= Seq("queries" -> order.mkString(","), "passes" -> busy.size, "pass_s" -> busy)
    Outcome(busy.size, MixQueries.map(n => Stats.median(walls(n).toSeq)), busy)
  }
}
