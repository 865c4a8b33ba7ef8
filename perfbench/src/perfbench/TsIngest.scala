package perfbench

import graft.ts.{TsRollup, TsTable, TsWriteOptions}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Writes with reads beside them on one table. Each cycle appends the
  * next hour of ticks, drains a running graft-ts source → graft-ts sink
  * stream into a mirror table (`processAllAvailable`), and syncs an hourly
  * rollup (`TsRollup.sync`). When the appends close a day, a late
  * correction of 300 rows is merged into the hour seven hours back and
  * synced, and `compactDays`, `expireSnapshots` and `vacuumStaging` run on
  * all three tables, so stored bytes level off.
  *
  * At run end the source must hold exactly the generated rows plus the
  * corrections, the mirror every row appended after set-up (the plain
  * stream does not carry merges, so with the original `qty`), and the
  * rollup must equal a direct per-hour aggregate of the source. */
final class TsIngest(spark: SparkSession, seed: Long) extends Workload {
  private val gen = new Ticks(seed)
  override def warmUnits: Int = 5
  /** Hours present after the build: hours 0-15 of day 0. The warm-up
    * appends hours 16-21 (one cycle in [[warm]], then [[warmUnits]]), so
    * every run closes the day after its 2nd timed cycle. */
  private val StartHours = 24 - 1 - warmUnits - 2
  private val MergeRows = 75 * Ticks.PerSec
  private val Delta = 1000L
  private val opts = TsWriteOptions(bloomCols = Seq("symbol"), fileSpan = "hour")

  private var dir: String = _
  private var src: TsTable = _
  private var query: StreamingQuery = _
  private var hours = StartHours
  private var merges = 0
  var rows = 0L

  private def srcPath = s"$dir/src"
  private def rollupPath = s"$dir/rollup"
  private def mirrorPath = s"$dir/mirror"
  private def ckptPath = s"$dir/ckpt"

  def build(d: String): Unit = {
    dir = d
    src = TsTable.create(spark, srcPath, Ticks.schema, "ts", opts)
    src.append(gen.frame(spark, 0, StartHours * 3600L))
    hours = StartHours
  }

  /** Starts the stream (it serves commits made from now on) and runs one
    * cycle and one day close, off the clock. */
  def warm(): Unit = {
    TsTable.create(spark, mirrorPath, Ticks.schema, "ts", opts)
    query = spark.readStream.format("graft-ts").load(srcPath)
      .writeStream.format("graft-ts").option("checkpointLocation", ckptPath)
      .start(mirrorPath)
    val probe = new Run(spark)
    cycle(probe)
    closeDay(probe)
    require(probe.failed == 0, probe.errors.mkString("; "))
  }

  def inputHash: String = gen.hash(StartHours * 3600L)

  def step(run: Run): Unit = {
    cycle(run)
    if (hours % 24 == 0) closeDay(run)
  }

  private def sync(run: Run): Unit = run.op("rollup_sync") {
    run.span("TsRollup.sync", "ts")(TsRollup.sync(src, rollupPath, 3600, "qty"))
  }(_ => true)

  private def cycle(run: Run): Unit = {
    val a = hours * 3600L
    run.unit {
      run.op("append") {
        run.span("TsTable.append", "ts")(src.append(gen.frame(spark, a, a + 3600)))
      }(_ => true).foreach(_ => rows += 3600L * Ticks.PerSec)
      hours += 1
      run.op("stream")(run.span("StreamingQuery.processAllAvailable", "stream")(
        query.processAllAvailable()))(_ => query.exception.isEmpty)
      sync(run)
    }
  }

  private def closeDay(run: Run): Unit = {
    run.op("merge") {
      run.span("TsTable.mergeInto", "ts")(src.mergeInto(correction((hours - 7) * 3600L),
        Seq("ts", "symbol"), updateCols = Some(Seq("qty")), insert = false))
    }(r => r.updated == MergeRows && r.inserted == 0)
    merges += 1
    sync(run)
    run.op("maintain") {
      run.span("maintenance", "ts") {
        val days = (0 until hours / 24).map(d =>
          java.time.LocalDate.ofEpochDay(gen.t0Sec / 86400 + d).toString)
        if (days.nonEmpty) src.compactDays(days)
        for (p <- Seq(srcPath, rollupPath, mirrorPath)) {
          val t = TsTable.open(spark, p)
          t.expireSnapshots(keepLast = 4)
          t.vacuumStaging(olderThanMs = 0)
        }
      }
    }(_ => true)
  }

  /** The first 75 seconds of the hour starting at second `a`, with `qty`
    * raised by [[Delta]]. */
  private def correction(a: Long): DataFrame =
    gen.frame(spark, a, a + MergeRows / Ticks.PerSec)
      .select(col("ts"), col("symbol"), (col("qty") + Delta).as("qty"))

  private def countSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("qty")), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def bucketAgg(df: DataFrame): DataFrame =
    df.groupBy(timestamp_micros(expr("(unix_micros(ts) div 3600000000L) * 3600000000L")).as("ts"))
      .agg(count(lit(1)).as("n_rows"), min(col("qty")).cast("double").as("v_min"),
        max(col("qty")).cast("double").as("v_max"),
        sum(col("qty").cast("decimal(38,6)")).cast("decimal(38,6)").as("v_sum"))

  def verify(run: Run): Unit = {
    val end = hours * 3600L
    val (n, qtySum) = gen.agg(0, end, end)
    val want = (n, qtySum + merges.toLong * MergeRows * Delta)
    run.op("verify_source")(countSum(TsTable.open(spark, srcPath).toDF))(_ == want)
    // the stream serves the commits made after the set-up append
    run.op("verify_mirror")(countSum(TsTable.open(spark, mirrorPath).toDF))(
      _ == gen.agg(StartHours * 3600L, end, end))
    run.op("verify_rollup") {
      val direct = bucketAgg(TsTable.open(spark, srcPath).toDF)
      val rollup = TsTable.open(spark, rollupPath).toDF
        .select("ts", "n_rows", "v_min", "v_max", "v_sum")
      (direct.exceptAll(rollup).count(), rollup.exceptAll(direct).count(), rollup.count())
    }(r => r._1 == 0 && r._2 == 0 && r._3 == hours)
  }

  override def stop(): Unit = if (query != null) query.stop()

  def endState: Map[String, Double] =
    TsState.of(spark, Seq(srcPath, rollupPath, mirrorPath, ckptPath), srcPath,
      hours * 3600L * Ticks.PerSec)
}
