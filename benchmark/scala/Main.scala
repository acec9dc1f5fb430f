package graftbench

import java.nio.file.{Files, Paths}

import scala.io.Source
import scala.util.Try

import org.apache.spark.sql.SparkSession

object Json {
  /** Already-encoded JSON, inserted as is. */
  final case class Raw(json: String)

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case (x: Double, unit: String) => obj(Seq("value" -> x, "unit" -> unit))
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** One benchmark run in one JVM: build the session, run the workload,
  * compute the metrics, write one JSON result file for run.py. */
object Main {
  private def procField(file: String, key: String): Option[String] =
    Try(Source.fromFile(file)).toOption.flatMap { s =>
      try s.getLines().find(_.startsWith(key)).map(_.stripPrefix(key).trim) finally s.close()
    }

  private def loadavg(): String =
    Try(Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")).getOrElse("")

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val loadStart = loadavg()
    val log = new LogCounter
    log.attach()
    val spark = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName(s"graftbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - opts.t0Ms) / 1000.0
    val trace = new Trace(spark, opts.traced)
    val ctx = new Ctx(spark, opts, trace, log)

    val outcome =
      try Workloads.run(ctx)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          ctx.check("workload", Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          Outcome(0, Nil, Nil)
      }
    trace.drain()
    if (!ctx.e2e.contains("setup_s")) ctx.endSetup()

    val rssMb = procField("/proc/self/status", "VmHWM:")
      .map(_.stripSuffix("kB").trim.toDouble / 1024.0).getOrElse(0.0)
    ctx.e2e("step_ms_p50") = Stats.median(outcome.stepMs)
    ctx.e2e("busy_s") = Stats.median(outcome.busyS)
    ctx.e2e("peak_rss_mb") = rssMb
    ctx.named("setup_s") = (ctx.e2e("setup_s"), "s")
    ctx.named("peak_rss_mb") = (rssMb, "MB")
    ctx.named("op_fail_ratio") =
      (if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted, "ratio")
    if (opts.traced) Layers.compute(ctx, outcome)

    ctx.facts ++= Seq(
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "traced" -> opts.traced, "master" -> s"local[${opts.cores}]",
      "scale" -> (if (opts.tiny) "tiny" else "full"),
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "passes" -> outcome.passes, "session_s" -> sessionS)
    val result = Json.obj(Seq(
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "mismatches" -> ctx.mismatches.toSeq,
      "e2e" -> ctx.e2e, "named" -> ctx.named, "layers" -> ctx.layers, "facts" -> ctx.facts))
    Files.writeString(Paths.get(opts.out), result)
    if (opts.traced) Files.writeString(Paths.get(opts.out.stripSuffix(".json") + ".spans.json"),
      Layers.spanTree(ctx, outcome))
    trace.close()
    spark.stop()
  }
}
