package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one run (see run.py). */
final case class Opts(workload: String, seed: Long, seconds: Int, traced: Boolean,
    work: String, data: String, out: String, cores: Int, tiny: Boolean,
    perturb: String, t0Ms: Long)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("data", ""), m("out"), m.getOrElse("cores", "4").toInt,
      m.getOrElse("scale", "full") == "tiny", m.getOrElse("perturb", "none"),
      m.getOrElse("t0", System.currentTimeMillis().toString).toLong)
  }
}

/** Everything a workload reports: gated end-to-end values, the named
  * workload metrics, per-layer values, facts, and the check tally. */
final class Ctx(val spark: SparkSession, val opts: Opts, val trace: Trace, val log: LogCounter) {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  var setupEndMs = 0L
  var perturbPending: Boolean = opts.perturb != "none"

  /** Record one operation's outcome; `problems` empty means it matched. */
  def check(op: String, problems: Seq[String]): Unit = synchronized {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (mismatches.size < 20) mismatches += s"$op: ${problems.take(3).mkString("; ")}"
    }
  }

  /** Run an operation; an exception counts as a failed attempt. */
  def guarded[T](op: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Throwable =>
        check(op, Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
        None
    }

  /** Once per run, for the negative control: true on the first call when
    * `--perturb` names this kind of perturbation. */
  def perturb(kind: String): Boolean =
    if (perturbPending && opts.perturb == kind) { perturbPending = false; true } else false

  /** Set-up ends now; `idleMs` of it was waiting on a schedule, not work. */
  def endSetup(idleMs: Long = 0L): Unit = {
    setupEndMs = System.currentTimeMillis()
    e2e("setup_s") = (setupEndMs - opts.t0Ms - idleMs) / 1000.0
    trace.measuring = true
  }

  def sinceStartS: Double = (System.currentTimeMillis() - opts.t0Ms) / 1000.0

  def elapsedMeasuringS: Double = (System.currentTimeMillis() - setupEndMs) / 1000.0

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
