package graftbench

import java.sql.Timestamp

import graft.model.{DetectionEvent, ErrorCode, Program, StreamSource}
import graft.ops.VendorStats.VendorRule

/** Seeded inputs. Every value is a pure function of (seed, index), so
  * executors can generate events in parallel and the oracle can replay
  * the very same events in a plain loop. */
final case class Inputs(seed: Long, nStreams: Int) {
  import Inputs._

  val nPrograms: Int = math.max(8, nStreams / 5)

  /** Catalog row `k` as the catalog database holds it before any upsert. */
  def stream(k: Int): StreamSource = {
    val h = hash(seed, 1, k)
    val vendor = pick(h, 5)
    val prog = pick(hash(seed, 2, k), nPrograms)
    val url = if (vendor < 4) s"http://vendor$vendor.example/live/$k.m3u8"
      else s"rtmp://misc.example/$k"
    val tmId = pick(h >>> 8, 10) match {
      case 0 => ""
      case 1 => (100 + prog % 100).toString // below the report universe (237)
      case _ => (237 + prog).toString
    }
    StreamSource(
      id = f"s$k%05d", url = url, target_matching = s"Prog $prog",
      target_matching_id = tmId,
      is_del = if (pick(h >>> 16, 20) == 0) 1 else 0,
      stream_type = if (pick(h >>> 24, 33) == 0) "XXX" else "live",
      flow_score = 0, resolution_type = 1,
      video_format = if (pick(h >>> 32, 3) == 0) "h264" else "",
      video_resolution = "", audio_format = "", audio_sampling_rate = "")
  }

  lazy val catalog: IndexedSeq[StreamSource] = (0 until nStreams).map(stream)

  /** Program dimension: an HD name per program, an FHD name for about
    * half, and a duplicated HD name for some (first match = smallest id). */
  lazy val programs: Seq[Program] = (0 until nPrograms).flatMap { j =>
    val h = hash(seed, 3, j)
    Seq(Program((237 + j).toString, s"Prog $j HD")) ++
      (if (pick(h, 2) == 0) Seq(Program((20000 + j).toString, s"Prog $j FHD")) else Nil) ++
      (if (pick(h >>> 8, 7) == 0) Seq(Program((30000 + j).toString, s"Prog $j HD")) else Nil)
  }

  val vendorRules: Seq[VendorRule] = (0 until 4).map(v =>
    VendorRule(Seq(s"http://vendor$v.example"), s"Vendor $v"))

  /** Backlog event `i`: the probe of a seeded stream at `startMicros + i *
    * stepMicros` (times are unique, so arrival order is total). */
  def event(i: Long, startMicros: Long, stepMicros: Long): DetectionEvent = {
    val s = catalog(pick(hash(seed, 4, i), nStreams))
    val h = hash(seed, 5, i)
    val failed = pick(h, 5) == 0
    val k = pick(h >>> 8, 97)
    DetectionEvent(
      url_id = s.id, flow_address = s.url,
      item = if (failed) ErrorCode.errorCodes(pick(h >>> 16, 16)) else 0,
      return_value = if (failed) "-1" else "0", lag_details = "",
      streaming_protocol = if (k % 5 == 0) "" else if (k % 2 == 0) "hls" else "flv",
      bitrate = if (k % 11 == 0) "" else s"${k * 100} kb/s",
      stream_length = if (k % 13 == 0) "N/A" else k.toString,
      video_format = if (k % 3 == 0) "h264" else if (k % 3 == 1) "hevc" else "",
      video_resolution = Resolutions(k % Resolutions.length),
      audio_format = if (k % 4 == 0) "aac" else if (k % 4 == 1) "" else "mp3",
      audio_sampling_rate = if (k % 6 == 0) "" else "44100",
      created_time = micros(startMicros + i * stepMicros),
      target_matching_id = s.target_matching_id, target_matching = s.target_matching)
  }
}

object Inputs {
  /** Mix of probed resolutions: empty, the "0x0" placeholder, mapped
    * FHD and HD sizes, and one outside the dimension (CUSTOM). */
  val Resolutions: Array[String] =
    Array("", "0x0", "1920x1080", "1280x720", "640x360", "3840x2160", "999x777", "0x0")

  def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, stream: Long, i: Long): Long = mix64(mix64(seed * 31 + stream) ^ i)
  def pick(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt

  def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
