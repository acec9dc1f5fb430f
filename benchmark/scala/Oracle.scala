package graftbench

import scala.collection.mutable

import graft.model.{DetectionEvent, ErrorCode, Program, ResolutionDim, StreamSource}
import graft.ops.FlowScore
import graft.sinks.Report.VendorStat
import org.apache.spark.sql.Row

/** Finalized E2 row (rollup + score + resolution + rematch) as the
  * oracle computes it. `cells` lines up with [[Oracle.FinalCols]]. */
final case class FinRow(urlId: String, cells: Seq[String], videoFormat: String,
    videoResolution: String, audioFormat: String, audioSamplingRate: String,
    targetMatchingId: String, flowScore: Int, resolutionType: Int)

/** Plain-Scala fold over the generated events: the reference semantics
  * written out row by row, sharing nothing with the Spark plans but the
  * scalar score twin (`FlowScore.score(Int, Int)`) and `ResolutionDim`. */
object Oracle {
  private val FirstCols = Seq("flow_address", "target_matching", "target_matching_id",
    "streaming_protocol", "bitrate", "stream_length", "video_format", "audio_format",
    "audio_sampling_rate")
  private val Counters = ErrorCode.counterColumns.map(_._2)

  val FinalCols: Seq[String] = Seq("url_id") ++ FirstCols ++ Seq("video_resolution") ++
    Counters ++ Seq("n_error", "n_detection", "flow_score", "resolution_type", "is_fhd")

  val CatalogCols: Seq[String] = Seq("id", "url", "target_matching", "is_del", "stream_type",
    "video_format", "video_resolution", "audio_format", "audio_sampling_rate",
    "target_matching_id", "flow_score", "resolution_type")

  final class Acc {
    val first = new Array[String](FirstCols.size)
    var resFirst: String = null
    var resLast: String = null
    val counts = new Array[Int](Counters.size)
    var nError, nDetection = 0
  }

  private def nonEmpty(s: String) = s != null && s.nonEmpty

  /** Day rollup; `events` must arrive in `created_time` order. */
  def rollup(events: Iterator[DetectionEvent]): Map[String, Acc] = {
    val m = mutable.HashMap.empty[String, Acc]
    events.foreach { e =>
      val a = m.getOrElseUpdate(e.url_id, new Acc)
      val vals = Array(e.flow_address, e.target_matching, e.target_matching_id,
        e.streaming_protocol, e.bitrate, e.stream_length, e.video_format,
        e.audio_format, e.audio_sampling_rate)
      var i = 0
      while (i < vals.length) {
        if (a.first(i) == null && nonEmpty(vals(i))) a.first(i) = vals(i)
        i += 1
      }
      if (a.resFirst == null && nonEmpty(e.video_resolution) && e.video_resolution != "0x0")
        a.resFirst = e.video_resolution
      a.resLast = e.video_resolution
      val c = ErrorCode.errorCodes.indexOf(e.item)
      if (c >= 0) a.counts(c) += 1
      if (e.item != ErrorCode.OperationOk) a.nError += 1
      a.nDetection += 1
    }
    m.toMap
  }

  def finalize(rolled: Map[String, Acc], programs: Seq[Program]): Map[String, FinRow] = {
    val dim = programs.groupBy(_.stream_name).map { case (n, ps) => n -> ps.map(_.id).min }
    rolled.map { case (url, a) =>
      val res = if (a.resFirst != null) a.resFirst else a.resLast
      val rt = ResolutionDim.classify(res)
      val fhd = rt >= ResolutionDim.Fhd1080
      val tm = a.first(1)
      val matched = if (tm == null) None else dim.get(tm + (if (fhd) " FHD" else " HD"))
      val tmId = matched.getOrElse(a.first(2))
      val score = FlowScore.score(a.nDetection, a.nError)
      val firsts = a.first.updated(2, tmId)
      val cells = (Seq(url) ++ firsts ++ Seq(res) ++ a.counts.map(_.toString) ++
        Seq(a.nError, a.nDetection, score, rt, fhd).map(_.toString)).map(str)
      url -> FinRow(url, cells, a.first(6), res, a.first(7), a.first(8), tmId, score, rt)
    }
  }

  /** The partial upsert: non-empty update fields win; score and
    * resolution type always write when the stream was probed. */
  def upsert(existing: Seq[StreamSource], fin: Map[String, FinRow]): Seq[StreamSource] = {
    def keep(old: String, u: String) = if (nonEmpty(u)) u else old
    existing.map { s =>
      fin.get(s.id) match {
        case None => s
        case Some(f) => s.copy(
          video_format = keep(s.video_format, f.videoFormat),
          video_resolution = keep(s.video_resolution, f.videoResolution),
          audio_format = keep(s.audio_format, f.audioFormat),
          audio_sampling_rate = keep(s.audio_sampling_rate, f.audioSamplingRate),
          target_matching_id = keep(s.target_matching_id, f.targetMatchingId),
          flow_score = f.flowScore, resolution_type = f.resolutionType)
      }
    }
  }

  def catalogCells(s: StreamSource): Seq[String] =
    Seq(s.id, s.url, s.target_matching, s.is_del, s.stream_type, s.video_format,
      s.video_resolution, s.audio_format, s.audio_sampling_rate, s.target_matching_id,
      s.flow_score, s.resolution_type).map(str)

  private def inUniverse(s: StreamSource) =
    s.target_matching_id.toIntOption.exists(_ >= 237) && s.is_del == 0 && s.stream_type != "XXX"

  /** Programs whose best active source scores <= 60, sorted, distinct. */
  def weakPrograms(catalog: Seq[StreamSource], programs: Seq[Program]): Seq[String] = {
    val weakIds = catalog.filter(inUniverse).groupBy(_.target_matching_id)
      .collect { case (id, ss) if ss.map(_.flow_score).max <= 60 => id }.toSet
    programs.filter(p => weakIds(p.id)).map(_.stream_name).distinct.sorted
  }

  def vendorStats(catalog: Seq[StreamSource], labels: Seq[(String, String)]): Seq[VendorStat] =
    catalog.filter(inUniverse).flatMap { s =>
      labels.collectFirst { case (prefix, label) if s.url.startsWith(prefix) => label -> s.flow_score }
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, xs) =>
      val fs = xs.map(_._2)
      VendorStat(v, fs.count(_ < 60), fs.count(f => f >= 60 && f <= 80),
        fs.count(f => f > 80 && f <= 100), fs.size)
    }

  /** Threshold crossings of the running per-stream error count, folded
    * batch by batch exactly as the stateful query sees its input. */
  def alerts(batches: Seq[Seq[(String, Boolean)]], threshold: Int): Seq[(String, Int, Int)] = {
    val st = mutable.HashMap.empty[String, (Int, Int, Boolean)]
    batches.flatMap { batch =>
      val seen = mutable.LinkedHashMap.empty[String, (Int, Int)]
      batch.foreach { case (url, err) =>
        val (e, d) = seen.getOrElse(url, { val s = st.getOrElse(url, (0, 0, false)); (s._1, s._2) })
        seen(url) = (e + (if (err) 1 else 0), d + 1)
      }
      seen.toSeq.flatMap { case (url, (e, d)) =>
        val alerted = st.get(url).exists(_._3)
        val fire = !alerted && e >= threshold
        st(url) = (e, d, alerted || fire)
        if (fire) Some((url, e, d)) else None
      }
    }
  }

  def str(v: Any): String = if (v == null) "null" else v.toString

  def rowCells(r: Row, cols: Seq[String]): Seq[String] = cols.map(c => str(r.getAs[Any](c)))
}
