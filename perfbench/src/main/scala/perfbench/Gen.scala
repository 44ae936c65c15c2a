package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One meter's waveform: `watts[i] = amp * ((i + phase) mod period)`
  * plus a per-transmission offset and a zero-sum paired jitter. */
final case class Meter(period: Int, amp: Int, phase: Int)

/** One transmission: a row of the engine's raw `meter_samples` table. */
final case class Tx(said: Int, datetime: java.sql.Timestamp, watts: Array[Float])

/** Seeded transmission generator with closed-form expectations.
  *
  * Sample `i` of meter `m`'s transmission at tick `t` is the integer
  *
  * {{{
  *   amp(m) * ((i + phase(m)) mod period(m)) + off(m,t) + Pad + (i even ? d(m,t) : -d(m,t))
  * }}}
  *
  * stored as a float. Every value lies in [0, 1000), so every partial sum of
  * the 15,000 samples is an integer below 2^24 and the float fold is exact
  * in any order. The paired jitter cancels over an even sample count, so a
  * transmission's joules are `off + Pad + amp * S(period, phase) div 15000`,
  * where `S` is the closed-form sum of one sawtooth (see [[sawtoothSum]]).
  * Offsets and jitter vary per meter and per tick, so no two neighbouring
  * arrays are equal and the columnar encoders see realistic data.
  *
  * Period 120, amplitude 1, phase 0 and no jitter is the reference's own
  * sawtooth: 59 J per transmission.
  */
final class Gen(val seed: Long, val fleet: IndexedSeq[Meter], val jitter: Boolean)
    extends Serializable {
  import Gen._

  val meters: Int = fleet.size

  // Linear per-transmission mixing coefficients, small enough that the
  // Catalyst expressions below never overflow a Long under ANSI mode. The
  // tick coefficients are coprime to their moduli, so a meter's offset runs
  // through all OffRange values before one repeats, and its jitter through
  // all Pad + 1: how often neighbouring arrays look alike, and so how well
  // the store compresses, is the same under every seed.
  private val (ka, kb, kc, kd, ke) = {
    val r = new scala.util.Random(seed * 31 + 7)
    def coprime(n: Int): Int =
      Iterator.continually(1 + r.nextInt(9973)).find(k => BigInt(k).gcd(n) == 1).get
    (1 + r.nextInt(9973), coprime(OffRange), r.nextInt(9973),
      1 + r.nextInt(9973), coprime(Pad + 1))
  }

  def off(m: Int, t: Long): Int =
    if (jitter) ((ka.toLong * m + kb.toLong * t + kc) % OffRange).toInt else 0
  def dev(m: Int, t: Long): Int =
    if (jitter) ((kd.toLong * m + ke.toLong * t) % (Pad + 1)).toInt else 0
  private def pad: Int = if (jitter) Pad else 0

  /** Expected joules of meter `m`'s transmission at tick `t`. */
  def joules(m: Int, t: Long): Int = {
    val mt = fleet(m)
    off(m, t) + pad + (mt.amp.toLong * sawtoothSum(mt.period, mt.phase) / SampleRate).toInt
  }

  /** Driver-side samples of one transmission (the streaming feed). */
  def watts(m: Int, t: Long): Array[Float] = {
    val mt = fleet(m)
    val base = off(m, t) + pad
    val d = dev(m, t)
    val a = new Array[Float](SampleRate)
    var i = 0
    while (i < SampleRate) {
      a(i) = (mt.amp * ((i + mt.phase) % mt.period) + base +
        (if ((i & 1) == 0) d else -d)).toFloat
      i += 1
    }
    a
  }

  private def offExpr(m: Column, t: Column): Column =
    if (jitter) pmod(lit(ka.toLong) * m + lit(kb.toLong) * t + lit(kc.toLong), lit(OffRange.toLong))
    else lit(0L)
  /** (said, datetime, tick) rows of `ticks` seconds × the fleet, starting
    * at tick `from`; `said` equals the meter index. */
  private def keys(spark: SparkSession, from: Long, ticks: Long): DataFrame = {
    val rows = ticks * meters
    spark.range(0, rows, 1, spark.sparkContext.defaultParallelism)
      .select(
        (col("id") % meters).cast("int").as("said"),
        (expr(s"id DIV $meters") + from).as("tick"))
      .withColumn("datetime", timestamp_seconds(col("tick") + StartEpochSec))
  }

  /** Raw transmissions (said, datetime, watts) in the engine's schema for
    * meters [0, `meters`) over ticks [from, from + ticks), generated by the
    * tasks, one partition per core. */
  def transmissions(spark: SparkSession, meters: Int, from: Long, ticks: Long): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(
      for (t <- from until from + ticks; m <- 0 until meters) yield (m, t),
      spark.sparkContext.defaultParallelism).map { case (m, t) => tx(m, t) }).toDF()
  }

  /** One transmission as the engine's raw table holds it. */
  def tx(m: Int, t: Long): Tx = Tx(m, new java.sql.Timestamp(epochSec(t) * 1000), watts(m, t))

  /** Per-second joules (said, datetime, joules INT) from the closed form,
    * without materializing arrays: the read workload's second table. */
  def secondTable(spark: SparkSession, from: Long, ticks: Long): DataFrame = {
    val m = col("said")
    val folded = fleet.map(mt => (mt.amp.toLong * sawtoothSum(mt.period, mt.phase) / SampleRate).toInt)
    keys(spark, from, ticks)
      .withColumn("joules",
        (offExpr(m, col("tick")) + lit(pad.toLong) + element_at(typedLit(folded), m + 1)).cast("int"))
      .select("said", "datetime", "joules")
  }
}

object Gen {
  /** A fleet whose periods run evenly over 60..240 and whose amplitudes
    * cycle through 1..3, with seeded phases. Meter `k` of a fleet of a
    * given size thus has the same waveform up to phase and jitter under
    * every seed, and a store compresses alike from seed to seed. */
  def apply(seed: Long, meters: Int): Gen = {
    val r = new scala.util.Random(seed)
    new Gen(seed, (0 until meters).map { k =>
      val period = 60 + 180 * k / math.max(1, meters - 1)
      Meter(period, 1 + k % 3, r.nextInt(period))
    }, jitter = true)
  }

  val SampleRate = 15000
  val StartEpochSec = 1704067200L // 2024-01-01T00:00:00Z
  val OffRange = 200
  val Pad = 20

  /** sum over i in [0, SampleRate) of (i + phase) mod period, in closed form:
    * q full cycles of 0..period-1, then r values starting at phase. */
  def sawtoothSum(period: Int, phase: Int): Long = {
    val q = SampleRate / period
    val r = SampleRate % period
    val full = q.toLong * period * (period - 1) / 2
    // the r trailing values run phase, phase+1, ... and wrap once at most
    val firstRun = math.min(r, period - phase)
    def run(from: Long, n: Long): Long = n * from + n * (n - 1) / 2
    full + run(phase, firstRun) + run(0, r - firstRun)
  }

  def epochSec(t: Long): Long = StartEpochSec + t
}
