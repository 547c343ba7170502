package perfbench

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Dataset, SparkSession}

/** One event-shaped input record. `due_ns` comes first so the simulated
  * endpoint can read it from the head of the framed JSON payload: it is the
  * time (ns after the generator's start) at which the record was due to be
  * offered. Bulk inputs carry 0 there.
  */
final case class Event(
    due_ns: Long, event_id: Long, user_id: Long, event_type: String, value: Double, text: String)

/** Seeded, stateless record generator and the payload hash used by the
  * output checks. Every field of record `i` is a pure function of
  * `(seed, i)`, so a record is the same whichever partition or thread
  * builds it.
  */
object Records {

  /** Text length in characters: lognormal with median 700 and sigma 0.9
    * (mean about 1,050), capped at 64 KiB. A framed record is then about
    * 1.1 KB on average, the size of the records in the reference's own
    * batch test (500 records of 1,000 B, FIXTURES.md section 1). */
  val TextMedianChars = 700.0
  val TextSigma = 0.9
  val TextMaxChars: Int = 64 * 1024
  /** With bursts on, every block of [[BurstEvery]] consecutive records
    * holds one burst of [[BurstRecords]] consecutive large records (96 to
    * 160 KiB of text each, about 20 MiB per burst) in its middle: a bulk
    * upload of attachments. Split over 4 lanes, a burst puts about 40
    * of them, 5 MiB, into one 500-record request, so the 4 MiB request
    * limit binds. The burst shape is an assumption, not a measurement. */
  val BurstEvery = 50000L
  val BurstRecords = 160L
  val BurstMinChars: Int = 96 * 1024
  val BurstMaxChars: Int = 160 * 1024

  private val EventTypes = Array("view", "click", "cart", "purchase", "signup", "error")
  private val Vocab = Array(
    "stream", "record", "batch", "firehose", "lane", "retry", "backoff", "put",
    "frame", "chunk", "spark", "micro", "trigger", "offset", "commit", "sink",
    "the", "a", "of", "and", "to", "in", "is", "for", "on", "with", "as", "by",
    "delivery", "latency", "throughput", "partition", "shuffle", "payload",
    "json", "bytes", "request", "limit", "queue", "window", "late", "event",
    "user", "click", "view", "cart", "purchase", "signup", "error", "value",
    "échec", "réessai", "流", "批", "データ", "送信", "über", "größe",
    "x", "yy", "zzz", "qq", "id", "ok")

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  /** Whether record `i` is one of a burst's large records. */
  def inBurst(i: Long): Boolean = {
    val at = java.lang.Math.floorMod(i, BurstEvery) - BurstEvery / 2
    at >= 0 && at < BurstRecords
  }

  /** Standard normal deviate from two hashes (Box-Muller). */
  private def normal(a: Long, b: Long): Double =
    math.sqrt(-2.0 * math.log(1.0 - unit(a))) * math.cos(2.0 * math.Pi * unit(b))

  def event(seed: Long, i: Long, dueNs: Long, bursts: Boolean = false): Event = {
    val h0 = mix(seed * 0x9e3779b97f4a7c15L + i)
    val h1 = mix(h0 + 1)
    val h2 = mix(h0 + 2)
    val h3 = mix(h0 + 3)
    val len =
      if (bursts && inBurst(i)) BurstMinChars + (unit(h3) * (BurstMaxChars - BurstMinChars)).toInt
      else math.min(TextMaxChars, (TextMedianChars * math.exp(TextSigma * normal(h3, mix(h0 + 4)))).toInt)
    val sb = new java.lang.StringBuilder(len + 16)
    var h = h0
    while (sb.length < len) {
      h = mix(h + 0x632be59bd9b4e019L)
      if (sb.length > 0) sb.append(' ')
      sb.append(Vocab(((h >>> 1) % Vocab.length).toInt))
    }
    if (sb.length > len) sb.setLength(len)
    Event(dueNs, i, (h1 >>> 1) % 100000L, EventTypes(((h2 >>> 1) % EventTypes.length).toInt),
      math.rint(unit(h2) * 100000.0) / 100.0, sb.toString)
  }

  /** Records `[0, n)` with due time `i * periodNs`, built on the executors. */
  def dataset(spark: SparkSession, seed: Long, n: Long, periodNs: Long = 0L,
      bursts: Boolean = false, slices: Int = 32): Dataset[Event] = {
    import spark.implicits._
    spark.range(0L, n, 1L, slices).as[Long].map(i => event(seed, i, i * periodNs, bursts))
  }

  /** 64-bit hash of a payload (8 bytes per step). Summed with wrap-around it
    * gives an order-independent digest of a multiset of payloads. */
  def hashBytes(b: Array[Byte]): Long = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    var h = 0x27d4eb2f165667c5L ^ b.length.toLong
    val n8 = b.length & ~7
    var i = 0
    while (i < n8) {
      h = java.lang.Long.rotateLeft(h ^ (bb.getLong(i) * 0xc2b2ae3d27d4eb4fL), 31) *
        0x9e3779b97f4a7c15L
      i += 8
    }
    var tail = 0L
    while (i < b.length) { tail = (tail << 8) | (b(i) & 0xffL); i += 1 }
    mix(h ^ (tail * 0x165667b19e3779f9L))
  }

  /** Whether a payload with hash `h` fails its first put (seeded, ‰). */
  def failsFirst(h: Long, salt: Long, permille: Int): Boolean =
    permille > 0 && java.lang.Math.floorMod(mix(h ^ salt), 1000L) < permille
}
