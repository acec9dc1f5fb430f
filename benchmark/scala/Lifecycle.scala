package graftbench

import java.time.{Instant, LocalDate}

import graft.model.StreamSource
import graft.ops.{ProgramHealth, VendorStats}
import graft.sinks.Report
import graft.streaming.DetectionPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, count, lit, sum}

/** E2 (day-so-far rollup → finalize → both reports) and E3 (upsert →
  * commit → both reports) over one fact store, composed as the program's
  * own demo composes them: the rollup DataFrame goes into `finalizeDay`
  * and the cached finalized DataFrame into `upsertCatalog`. The catalog
  * is a parquet table; E3 commits by writing its next version, and the
  * reports always read the committed version, as the reference's report
  * queries read the catalog table. Each output is collected and checked
  * against the oracle after the timed call returns. */
final class Lifecycle(ctx: Ctx, inputs: Inputs, var factDir: String) {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val trace = ctx.trace

  private val programsDf = inputs.programs.toDF()
  private val labels = inputs.vendorRules.map(r => r.prefixes.head -> r.label)

  private val tableDir = s"${ctx.opts.work}/catalog-table"
  private var versions = 0
  private val initial = s"$tableDir/v0"
  inputs.catalog.toDF().write.parquet(initial)
  private var committed = initial
  var committedOracle: Seq[StreamSource] = inputs.catalog
  private var lastRollup: DataFrame = _
  private var lastFin: DataFrame = _
  private var lastFinOracle: Map[String, FinRow] = Map.empty
  val sink = new Report.CollectingSink
  val e2Ms = scala.collection.mutable.ArrayBuffer.empty[Double]
  val e3Ms = scala.collection.mutable.ArrayBuffer.empty[Double]
  val factFiles = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Start over on a fresh fact store with the initial catalog. */
  def reset(fact: String): Unit = {
    factDir = fact
    committed = initial; committedOracle = inputs.catalog
    e2Ms.clear(); e3Ms.clear(); factFiles.clear()
  }

  private def catalog(path: String): DataFrame = spark.read.parquet(path)

  /** Files in the day's fact-store partition (the listing E2 pays for). */
  private def dayFiles(day: LocalDate): Int =
    Option(new java.io.File(s"$factDir/event_date=$day").listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

  def e2(day: LocalDate, upTo: Instant, oracle: => Map[String, FinRow]): Unit = {
    if (trace.measuring) factFiles += dayFiles(day)
    // the previous E2's caches go before the clock starts
    Seq(lastFin, lastRollup).filter(_ != null).foreach(_.unpersist(blocking = true))
    lastFin = null; lastRollup = null
    val t0 = System.nanoTime()
    val done = ctx.guarded(s"E2 $day $upTo") {
      trace.span("e2") {
        // cached so that the rollup and finalize spans each time their own work
        lastRollup = trace.span("rollup") {
          val df = trace.span("rollup.frame")(
            DetectionPipeline.rollupDaySoFar(spark, factDir, day, upTo)).cache()
          val r = df.agg(count(lit(1)), coalesce(sum("n_detection"), lit(0L))).head()
          trace.attr("rows_out", r.getLong(0).toDouble)
          trace.attr("rows_in", r.getLong(1).toDouble)
          df
        }
        lastFin = trace.span("finalize") {
          val df = DetectionPipeline.finalizeDay(lastRollup, programsDf).cache()
          df.count()
          df
        }
        reports(day, catalog(committed))
      }
    }
    if (trace.measuring) e2Ms += (System.nanoTime() - t0) / 1e6
    done.foreach { rep =>
      val want = oracle
      lastFinOracle = want
      var got = lastFin.collect().toSeq.map(r => Oracle.rowCells(r, Oracle.FinalCols))
      if (ctx.perturb("drop_event")) got = got.updated(0, dropOne(got(0)))
      ctx.check(s"E2 $day $upTo", compareKeyed(got, want.values.map(_.cells).toSeq) ++
        checkReports(rep, committedOracle))
    }
  }

  /** Pretend one of the stream's probes never arrived. */
  private def dropOne(cells: Seq[String]): Seq[String] = {
    val i = Oracle.FinalCols.indexOf("n_detection")
    cells.updated(i, (cells(i).toInt - 1).toString)
  }

  /** E3: upsert the last finalized rollup into the catalog and write the
    * result as the catalog's next version; `commit = false` (the set-up
    * warm pass) writes it but leaves the committed version in place. */
  def e3(day: LocalDate, commit: Boolean = true): Unit = {
    versions += 1
    val next = s"$tableDir/v$versions"
    val t0 = System.nanoTime()
    val done = ctx.guarded(s"E3 $day") {
      trace.span("e3") {
        trace.span("upsert") {
          DetectionPipeline.upsertCatalog(catalog(committed), lastFin).write.parquet(next)
        }
        reports(day, catalog(if (commit) next else committed))
      }
    }
    if (trace.measuring) e3Ms += (System.nanoTime() - t0) / 1e6
    done.foreach { rep =>
      val merged = catalog(next).as[StreamSource].collect().toSeq
      trace.attrLast("upsert", "rows", merged.size)
      val want = Oracle.upsert(committedOracle, lastFinOracle)
      var got = merged.map(Oracle.catalogCells)
      if (ctx.perturb("wrong_score")) {
        val i = Oracle.CatalogCols.indexOf("flow_score")
        got = got.updated(0, got(0).updated(i, (got(0)(i).toInt + 1).toString))
      }
      val nextOracle = if (commit) want else committedOracle
      ctx.check(s"E3 $day", compareKeyed(got, want.map(Oracle.catalogCells)) ++
        checkReports(rep, nextOracle))
      if (commit) { committed = next; committedOracle = want }
    }
  }

  private def reports(day: LocalDate, cat: DataFrame): (Seq[String], Seq[Report.VendorStat]) = {
    val weak = trace.span("reports.weak") {
      ProgramHealth.weakPrograms(cat, programsDf).as[String].collect().toSeq
    }
    val vendor = trace.span("reports.vendor") {
      VendorStats.vendorFlowStats(cat, inputs.vendorRules).collect().map(r => Report.VendorStat(
        r.getAs[String]("vendor"), r.getAs[Int]("count_lt60"), r.getAs[Int]("count_60_80"),
        r.getAs[Int]("count_80_100"), r.getAs[Int]("total"))).toSeq.sortBy(_.vendor)
    }
    trace.span("sink") {
      val before = sink.sent.size
      Report.programReport(day.toString, weak).foreach(sink.send)
      Report.vendorReport(day.toString, vendor).foreach(sink.send)
      val sent = sink.sent.drop(before)
      trace.attr("messages", sent.size)
      trace.attr("bytes", sent.map(_.length.toDouble).sum)
    }
    (weak, vendor)
  }

  private def checkReports(rep: (Seq[String], Seq[Report.VendorStat]),
      catalog: Seq[StreamSource]): Seq[String] = {
    val weak = Oracle.weakPrograms(catalog, inputs.programs)
    val vendor = Oracle.vendorStats(catalog, labels)
    (if (rep._1 != weak) Seq(s"weak programs: ${rep._1.size} rows, oracle ${weak.size}") else Nil) ++
      (if (rep._2 != vendor) Seq(s"vendor stats ${rep._2.take(2)} != oracle ${vendor.take(2)}") else Nil)
  }

  /** Compare row sets keyed by their first cell. */
  def compareKeyed(got: Seq[Seq[String]], want: Seq[Seq[String]]): Seq[String] = {
    val g = got.groupBy(_.head)
    val w = want.map(r => r.head -> r).toMap
    val dup = g.collect { case (k, rs) if rs.size > 1 => s"duplicate key $k" }.toSeq
    val missing = w.keys.filterNot(g.contains).take(2).map(k => s"missing $k")
    val extra = g.keys.filterNot(w.contains).take(2).map(k => s"unexpected $k")
    val diff = g.collect { case (k, rs) if w.get(k).exists(_ != rs.head) =>
      s"$k: got ${rs.head.mkString(",")} want ${w(k).mkString(",")}" }.take(2)
    (dup ++ missing ++ extra ++ diff).toSeq
  }
}
