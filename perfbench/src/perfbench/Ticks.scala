package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** Secondly ticks for 16 symbols, generated from the seed in closed form,
  * so the harness knows the count and `qty` sum of any time window without
  * reading the table.
  *
  * Second `t` (counted from the seed's start day) holds one row for each of
  * the 4 symbols active in its hour: symbol `s` is active in hour `h` when
  * `(s + h + seed) mod 4 == 0`. Each hour's rows therefore cover a quarter
  * of the symbols, which gives a Bloom filter on `symbol` files to skip. */
final class Ticks(seed: Long) {
  import Ticks._
  private val sd: Long = java.lang.Math.floorMod(seed, 1000003L)
  /** Start of second 0: midnight UTC of a seed-dependent day in 2024. */
  val t0Sec: Long = java.time.LocalDate.of(2024, 1, 1).plusDays(sd % 200)
    .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond

  def symbol(hour: Long, k: Int): Int =
    java.lang.Math.floorMod(-(hour + sd), 4L).toInt + 4 * k
  def qty(s: Int, t: Long): Long =
    java.lang.Math.floorMod(t * 2654435761L + s * 97531L + sd * 7919L, 1000L) + 1
  def ts(t: Long): Timestamp = Timestamp.from(java.time.Instant.ofEpochSecond(t0Sec + t))
  def symbolName(s: Int): String = f"SYM$s%02d"

  /** Rows of seconds [a, b), in ts order. */
  def frame(spark: SparkSession, a: Long, b: Long): DataFrame =
    spark.range(a * PerSec, b * PerSec, 1, math.max(1, ((b - a) / 7200).toInt))
      .select(expr(s"id div $PerSec").as("t"), (col("id") % PerSec).as("k"))
      .withColumn("s", expr(s"pmod(-(t div 3600 + $sd), 4) + 4 * k"))
      .withColumn("q", expr(s"pmod(t * 2654435761 + s * 97531 + ${sd * 7919}, 1000) + 1"))
      .select(
        timestamp_seconds(col("t") + t0Sec).as("ts"),
        format_string("SYM%02d", col("s")).as("symbol"),
        (lit(100.0) + col("s") + col("q") / 100.0).as("price"),
        col("q").cast("long").as("qty"))

  /** (row count, qty sum) of the generated rows with `a <= t <= b` seconds,
    * optionally only for one symbol, clipped to the generated span [0, end). */
  def agg(a: Long, b: Long, end: Long, only: Int = -1): (Long, Long) = {
    var n = 0L
    var sum = 0L
    var t = math.max(a, 0L)
    val last = math.min(b, end - 1)
    while (t <= last) {
      var k = 0
      while (k < PerSec) {
        val s = symbol(t / 3600, k)
        if (only < 0 || only == s) { n += 1; sum += qty(s, t) }
        k += 1
      }
      t += 1
    }
    (n, sum)
  }

  /** Content hash of the rows of seconds [0, end). */
  def hash(end: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(20)
    var t = 0L
    while (t < end) {
      var k = 0
      while (k < PerSec) {
        val s = symbol(t / 3600, k)
        buf.clear(); buf.putLong(t0Sec + t).putInt(s).putLong(qty(s, t))
        md.update(buf.array(), 0, 20)
        k += 1
      }
      t += 1
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

object Ticks {
  val PerSec = 4
  val Symbols = 16
  val schema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("symbol", StringType),
    StructField("price", DoubleType), StructField("qty", LongType)))
}
