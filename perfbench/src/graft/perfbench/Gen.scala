package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.zip.CRC32
import graft.streaming.{PageView, Profile, WikipediaFeedEvent}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import scala.reflect.runtime.universe.TypeTag

/** Seeded input generators. Everything a run feeds the program comes from
  * here, as a pure function of the workload seed: the same seed gives the
  * same events, chunking and partitioning. */
object Gen {
  /** Generated wiki edit: the raw IRC line plus the fields it encodes
    * (`parseable = false` for the garbled lines the parser must drop). */
  final case class Edit(line: String, parseable: Boolean, title: String, flags: String,
                        bytes: Int, timeMs: Long)

  val BaseMs: Long = 1700000000000L

  private val Words = Array("fix", "typo", "cleanup", "ref", "added", "section", "revert",
    "vandalism", "link", "update", "infobox", "category", "image", "stub", "expand")

  /** `n` wiki edits; event time advances `msPerEvent` per edit from `first`. */
  def wikiEdits(seed: Long, first: Long, n: Int, msPerEvent: Double): Array[Edit] = {
    val r = new SplittableRandom(seed * 31 + 7)
    Array.tabulate(n) { j =>
      val i = first + j
      val timeMs = BaseMs + (i * msPerEvent).toLong
      if (r.nextInt(100) < 2) Edit(s"garbled feed line $i ${Words(r.nextInt(Words.length))}",
        parseable = false, "", "", 0, timeMs)
      else {
        val u = r.nextDouble()
        val base = s"Article_${(4000 * u * u).toInt}"
        val p = r.nextInt(100)
        val title = if (p < 8) s"Talk:$base" else if (p < 11) s"Special:$base" else base
        val flags = (if (r.nextInt(100) < 30) "M" else "") + (if (r.nextInt(100) < 5) "N" else "") +
          (if (r.nextInt(100) < 15) "!" else "") + (if (r.nextInt(100) < 10) "B" else "")
        val bytes = r.nextInt(5001) - 2000
        val diff = s"http://en.wikipedia.org/w/index.php?diff=${r.nextInt(1 << 30)}&oldid=${r.nextInt(1 << 30)}"
        val summary = Array.fill(1 + r.nextInt(5))(Words(r.nextInt(Words.length))).mkString(" ")
        val sign = if (bytes >= 0) "+" else "-"
        Edit(s"[[$title]] $flags $diff * User${r.nextInt(20000)} * ($sign${math.abs(bytes)}) $summary",
          parseable = true, title, flags, bytes, timeMs)
      }
    }
  }

  def feedEvent(e: Edit): WikipediaFeedEvent =
    WikipediaFeedEvent("#en.wikipedia", e.line, e.timeMs, "rc-pmtpa")

  /** Zipf(s = 1) sampler over `n` ranks (inverse CDF, binary search). */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / (k + 1))
      val acc = w.scanLeft(0.0)(_ + _).tail
      acc.map(_ / acc.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }

  def userId(u: Int): String = f"u$u%06d"
  def company(seed: Long, u: Int): String = s"co${mix(seed ^ u.toLong) % 500}"

  /** A page view of user `u` at event time `tsMicros`. */
  def pageView(u: Int, r: SplittableRandom, tsMicros: Long): PageView = {
    val ts = new Timestamp(Math.floorDiv(tsMicros, 1000L))
    ts.setNanos((Math.floorMod(tsMicros, 1000000L) * 1000L).toInt)
    PageView(s"p${r.nextInt(10000)}", userId(u), Countries(r.nextInt(Countries.length)), ts)
  }
  private val Countries = Array("US", "DE", "IN", "BR", "JP", "FR", "NG", "ID")

  def profiles(seed: Long, users: Int): Array[Profile] =
    Array.tabulate(users)(u => Profile(userId(u), company(seed, u)))

  /** splitmix64 finalizer with the sign bit cleared. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  def crc32(s: String): Long = {
    val c = new CRC32()
    c.update(s.getBytes("UTF-8"))
    c.getValue
  }

  /** Encodes `events` into chunks of `perChunk` events, each split over
    * `parts` partitions by `key` — done before timing, so the timed phase
    * never pays for encoding. */
  def chunked[T: TypeTag](events: IndexedSeq[T], perChunk: Int, parts: Int)(key: T => Int): Feed.Chunks =
    encode(events.grouped(perChunk).toSeq, parts)(key)

  /** Encodes each group of events into one chunk, split over `parts`
    * partitions by `key`. */
  def encode[T: TypeTag](groups: Seq[Seq[T]], parts: Int)(key: T => Int): Feed.Chunks = {
    val ser = ExpressionEncoder[T]().createSerializer()
    groups.map { chunk =>
      val buckets = Array.fill(parts)(Array.newBuilder[InternalRow])
      chunk.foreach(e => buckets(Math.floorMod(key(e), parts)) += ser(e).copy())
      buckets.map(_.result())
    }.toIndexedSeq
  }
}
