package graftbench

import org.apache.spark.sql.SparkSession

import graft.core.Turn
import graft.fixtures.TranscriptGen

/** Seeded input generators. Each is a pure function of (seed, size): the
  * same seed gives the same rows, whatever the parallelism. */
object Inputs {

  // ---- transcripts --------------------------------------------------------

  /** Turn count of a corpus of `nConvs` conversations (conv 0 is the
    * mega-conversation the generator plants for skew). */
  def turnCount(nConvs: Long): Long =
    (0L until nConvs).iterator.map(c => TranscriptGen.turnsPerConv(nConvs, c).toLong).sum

  /** Every turn of the corpus, in (conv, turn) order, on the driver. */
  def turnsIterator(seed: Long, nConvs: Long): Iterator[Turn] =
    (0L until nConvs).iterator.flatMap { c =>
      (0 until TranscriptGen.turnsPerConv(nConvs, c)).iterator
        .map(t => TranscriptGen.turn(seed, nConvs, c, t))
    }

  /** Writes the transcript table through the public `TranscriptGen.turn`.
    * Each conversation is split into 16 chunks spread over the range, so
    * the mega-conversation is generated by many tasks; rows are then
    * scattered round-robin, so file order carries no (conv, turn) order. */
  def writeTranscripts(spark: SparkSession, seed: Long, nConvs: Long, parts: Int,
      dir: String): Long = {
    import spark.implicits._
    val chunks = 16
    val turns = spark.range(0L, nConvs * chunks, 1L, parts).as[Long].flatMap { i =>
      val conv = i % nConvs
      val chunk = (i / nConvs).toInt
      val n = TranscriptGen.turnsPerConv(nConvs, conv)
      val per = (n + chunks - 1) / chunks
      val lo = chunk * per
      val hi = math.min(n, lo + per)
      (lo until hi).iterator.map(t => TranscriptGen.turn(seed, nConvs, conv, t))
    }
    turns.repartition(parts).write.mode("overwrite").parquet(dir)
    turnCount(nConvs)
  }

  // ---- random numbers ----------------------------------------------------------

  final class Rng(private var s: Long) extends Serializable {
    def nextLong(): Long = { s += 0x9e3779b97f4a7c15L; Digest.mix(s) }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  }
  def rng(seed: Long, a: Long, salt: Long): Rng =
    new Rng(Digest.mix(seed * 0x100000001b3L ^ Digest.mix(a) ^ salt))

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF (binary search). */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: Rng): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  // ---- skewed events ----------------------------------------------------------

  /** `hotUsers` of the most active users are bursty: all their events fall
    * inside one day of their own. `errorPct` of the events are errors. */
  final case class EventSpec(events: Long, users: Int, zipfS: Double, days: Int,
      hotUsers: Int, errorPct: Int)

  val EpochMs: Long = 1767225600000L // 2026-01-01T00:00:00Z

  /** Event `i`: the user is Zipf-distributed (a few hot users own a large
    * share); the time is uniform over `days`, or over the user's burst day
    * for a hot user; the type is view/click/purchase/error at
    * 60/25/(15 - errorPct)/errorPct percent. */
  def writeEvents(spark: SparkSession, seed: Long, spec: EventSpec, parts: Int, dir: String): Long = {
    import spark.implicits._
    val dayMs = 86400000L
    spark.range(0L, spec.events, 1L, parts).as[Long].mapPartitions { ids =>
      val zipf = new Zipf(spec.users, spec.zipfS)
      ids.map { i =>
        val r = rng(seed, i, 0xe7e)
        val user = zipf.sample(r)
        val ts = new java.sql.Timestamp(
          if (user < spec.hotUsers) EpochMs + (3 + 7L * user) % spec.days * dayMs + (r.nextLong() >>> 1) % dayMs
          else EpochMs + (r.nextLong() >>> 1) % (spec.days * dayMs))
        val k = r.nextInt(100)
        val kind = if (k < 60) "view" else if (k < 85) "click" else if (k < 100 - spec.errorPct) "purchase" else "error"
        val value = (r.nextInt(100000) / 100.0)
        (user.toLong, i, kind, ts, value)
      }
    }.toDF("user_id", "event_id", "event_type", "ts", "value")
      .repartition(parts).write.mode("overwrite").parquet(dir)
    spec.events
  }
}
