package graft

import graft.ts.TsTable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SimpleMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftParam
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.Instant

/** `GraftExtensions`' StableCodegenLiterals rule: the comparison constants
  * of a `FilterExec` become runtime parameters of the generated class, so
  * range reads that differ only in their bounds reuse one compiled class.
  *
  * The reference for results and EXPLAIN text is a session built without
  * the extension: `beforeAll` writes the fixtures and records what that
  * session answers, then stops it; the tests run on the shared session,
  * which carries the extension. */
class CodegenStabilitySpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val root = Files.createTempDirectory("graft-codegen-stability").toString
  private val tablePath = s"$root/ticks"
  private val typedPath = s"$root/typed"

  /** Ticks every 5 s from 22:00 on 2024-03-01 for four hours (crossing a
    * day), `qty` = tick index; version 1 holds the first three hours,
    * version 2 the last. */
  private val base = Instant.parse("2024-03-01T22:00:00Z").getEpochSecond
  private val step = 5L
  private val ticks = 4 * 720
  private val ticksV1 = 3 * 720
  private def ts(sec: Long) = Timestamp.from(Instant.ofEpochSecond(sec))

  private val tickSchema = StructType(Seq(
    StructField("ts", TimestampType), StructField("sym", StringType),
    StructField("qty", LongType)))

  private val typedSchema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("dt", DateType), StructField("ts", TimestampType)))

  private val typedRows = Seq(
    Row(1, 10L, 0.0, 0.0f, Date.valueOf("2024-03-01"), ts(base)),
    Row(2, 20L, -0.0, -0.0f, Date.valueOf("2024-03-02"), ts(base + 60)),
    Row(3, 30L, Double.NaN, Float.NaN, Date.valueOf("2024-03-03"), ts(base + 120)),
    Row(4, 40L, 1.5, 1.5f, Date.valueOf("2024-03-04"), null),
    Row(5, 50L, -1.5, -1.5f, null, ts(base + 180)),
    Row(null, null, null, null, null, null),
    Row(6, Long.MaxValue, Double.PositiveInfinity, Float.NegativeInfinity,
      Date.valueOf("2024-03-05"), ts(base + 3600)))

  /** Filters over the typed fixture, each a comparison against a literal
    * of one parameterisable type. */
  private val typedPredicates = Seq(
    "i >= 3", "i < 3", "i = 6", "l = 50", "l <= 30", "l > 9223372036854775806",
    "d = 0.0", "d = -0.0", "d > -0.0", "d < 0.0", "d >= -1.5",
    "d = double('NaN')", "d >= double('NaN')", "d < double('NaN')",
    "d <=> double('NaN')", "d > double('Infinity')",
    "f > float('-0.0')", "f = float('NaN')", "f < float('NaN')",
    "dt >= date'2024-03-02'", "dt < date'2024-03-04' or dt is null",
    s"ts between timestamp'2024-03-01 22:00:00' and timestamp'2024-03-01 22:02:00'",
    "ts > timestamp'2024-03-01 22:01:00' or ts is null",
    "ts <=> timestamp'2024-03-01 22:01:00'")

  /** (lo, hi) seconds of range reads on exact tick times (closed ends). */
  private val closedRanges = Seq(
    (base, base + 3600), (base + 5, base + 5), (base + 7195, base + 7200 + 5),
    (base + 2 * 3600 - step, base + 2 * 3600 + step))

  private var plainResults: Map[String, Seq[String]] = Map.empty
  private var plainExplain: Map[String, String] = Map.empty

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def rangeRead(t: TsTable, lo: Long, hi: Long): DataFrame =
    t.readRange(ts(lo), ts(hi))

  private def countSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("qty")), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** The generator's answer for [lo, hi] over the first `visible` ticks. */
  private def expected(lo: Long, hi: Long, visible: Int): (Long, Long) = {
    val ks = (0 until visible).filter { k => val s = base + k * step; s >= lo && s <= hi }
    (ks.size.toLong, ks.map(_.toLong).sum)
  }

  /** EXPLAIN text with expression ids masked (they differ by session). */
  private def explained(df: DataFrame): String =
    df.queryExecution.explainString(SimpleMode).replaceAll("#\\d+L?", "#x")

  /** Everything the reference session is asked; keys name the query. */
  private def queries(spark: SparkSession): Seq[(String, () => DataFrame)] = {
    val t = TsTable.open(spark, tablePath)
    val typed = spark.read.parquet(typedPath)
    typedPredicates.map(p => s"typed: $p" -> (() => typed.where(p))) ++
      closedRanges.map { case (lo, hi) => s"range: $lo..$hi" -> (() => rangeRead(t, lo, hi)) }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    SparkSpec.releaseSession()
    val plain = SparkSpec.build("local[4]", extensions = false)
    try {
      val t = TsTable.create(plain, tablePath, tickSchema)
      def ticksFrom(a: Int, b: Int) = plain.createDataFrame(
        plain.sparkContext.parallelize((a until b).map(k =>
          Row(ts(base + k * step), s"S${k % 3}", k.toLong)), 2), tickSchema)
      t.append(ticksFrom(0, ticksV1))
      t.append(ticksFrom(ticksV1, ticks))
      plain.createDataFrame(plain.sparkContext.parallelize(typedRows, 1), typedSchema)
        .write.parquet(typedPath)
      val qs = queries(plain)
      plainResults = qs.map { case (k, q) => k -> sorted(q()) }.toMap
      plainExplain = qs.flatMap { case (k, q) =>
        val df = q()
        val before = explained(df)
        df.collect()
        Seq(s"$k (planned)" -> before, s"$k (executed)" -> explained(df))
      }.toMap
    } finally SparkSpec.releaseSession()
  }

  override def afterAll(): Unit = {
    try org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    finally super.afterAll()
  }

  private def spark = SparkSpec.session

  private def params(plan: SparkPlan): Seq[GraftParam] =
    collect(plan) { case f: FilterExec => f }.flatMap(_.condition.collect { case p: GraftParam => p })

  test("range and as-of reads with distinct bounds compile no new class after a warm read") {
    val t = TsTable.open(spark, tablePath)
    val v1 = t.currentVersion.get - 1
    val warmLo = base + 600
    assert(countSum(rangeRead(t, warmLo, warmLo + 3600)) == expected(warmLo, warmLo + 3600, ticks))
    assert(countSum(t.readRange(ts(warmLo), ts(warmLo + 3600), v1)) ==
      expected(warmLo, warmLo + 3600, ticksV1))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ranges = (1 to 20).map(i => base + i * 331L)
    val asOfs = (1 to 10).map(i => base + i * 577L)
    val got = ranges.map(lo => countSum(rangeRead(t, lo, lo + 3600))) ++
      asOfs.map(lo => countSum(t.readRange(ts(lo), ts(lo + 3600), v1)))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles == 0, s"$compiles classes compiled over ${got.size} reads")
    assert(got == ranges.map(lo => expected(lo, lo + 3600, ticks)) ++
      asOfs.map(lo => expected(lo, lo + 3600, ticksV1)))
  }

  test("results equal a session without the extension") {
    val qs = queries(spark)
    qs.foreach { case (k, q) => assert(sorted(q()) == plainResults(k), k) }
    closedRanges.foreach { case (lo, hi) =>
      val (n, _) = expected(lo, hi, ticks)
      assert(plainResults(s"range: $lo..$hi").size == n, s"$lo..$hi")
    }
    // the rule did fire on the typed filters and the range reads
    val parameterised = qs.count { case (_, q) =>
      val df = q(); df.collect(); params(df.queryExecution.executedPlan).nonEmpty }
    assert(parameterised == qs.size, s"only $parameterised of ${qs.size} filters parameterised")
  }

  test("EXPLAIN text is identical with and without the rule") {
    queries(spark).foreach { case (k, q) =>
      val df = q()
      assert(explained(df) == plainExplain(s"$k (planned)"), k)
      df.collect()
      assert(explained(df) == plainExplain(s"$k (executed)"), k)
    }
  }

  test("the scan keeps the literal bounds in its partition and pushed filters") {
    val (lo, hi) = closedRanges.head
    val df = rangeRead(TsTable.open(spark, tablePath), lo, hi)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1, plan.toString)
    val scan = scans.head
    val (loUs, hiUs) = (lo * 1000000L, hi * 1000000L)
    val dataLits = scan.dataFilters.flatMap(_.collect { case l: Literal => l.value })
    assert(dataLits.toSet == Set(loUs, hiUs), scan.toString)
    assert(scan.metadata("PushedFilters") == "[IsNotNull(ts), " +
      "GreaterThanOrEqual(ts,2024-03-01 22:00:00.0), LessThanOrEqual(ts,2024-03-01 23:00:00.0)]",
      scan.metadata)
    val day = Date.valueOf("2024-03-01").toLocalDate.toEpochDay.toInt
    val partLits = scan.partitionFilters.flatMap(_.collect { case l: Literal => l.value })
    assert(partLits == Seq(day, day), scan.toString)
    assert(scan.metadata("PartitionFilters").replaceAll("#\\d+", "#x") ==
      "[(isnull(p_date#x) OR ((p_date#x >= 2024-03-01) AND (p_date#x <= 2024-03-01)))]",
      scan.metadata)
    // the residual filter above the scan carries the same bounds as parameters
    assert(params(plan).map(_.value).toSet == Set(loUs, hiUs), plan.toString)
  }
}
