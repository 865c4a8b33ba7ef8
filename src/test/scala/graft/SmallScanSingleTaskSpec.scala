package graft

import graft.ts.{TsTable, TsWriteOptions}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

/** `GraftExtensions`' SmallScanSingleTask rule: under AQE, an
  * `EnsureRequirements` `Exchange SinglePartition` over small TsTable
  * scans becomes a one-task `Coalesce 1`, so a global aggregate over a
  * 1-hour read runs one Spark job instead of two.
  *
  * The reference is a session built without the extension: `beforeAll`
  * writes the fixture and records that session's answers and job counts,
  * then stops it; the tests run on the shared session, which carries the
  * extension. */
class SmallScanSingleTaskSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val root = Files.createTempDirectory("graft-small-scan").toString
  private val tablePath = s"$root/ticks"
  private val plainPath = s"$root/plain"

  /** Ticks every 10 s from 2024-03-01 00:00 for six hours, one file per
    * hour; version 2 holds the first five hours, version 3 all six. */
  private val base = Instant.parse("2024-03-01T00:00:00Z").getEpochSecond
  private val step = 10L
  private val ticks = 6 * 360
  private val ticksV1 = 5 * 360
  private def ts(sec: Long) = Timestamp.from(Instant.ofEpochSecond(sec))

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("sym", StringType),
    StructField("qty", LongType)))

  private def ticksFrom(s: SparkSession, a: Int, b: Int): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize((a until b).map(k =>
      Row(ts(base + k * step), s"S${k % 3}", k.toLong)), 2), schema)

  private val (lo, hi) = (base + 2 * 3600 + 1234, base + 3 * 3600 + 1234)

  /** The three reads of the table-format benchmark, each answered by a
    * global aggregate. */
  private def reads(s: SparkSession): Seq[(String, () => DataFrame)] = {
    val t = TsTable.open(s, tablePath)
    val v1 = t.currentVersion.get - 1
    Seq(
      "readRange" -> (() => t.readRange(ts(lo), ts(hi))),
      "lookupEq" -> (() => t.lookupEq("sym", Seq("S1"))),
      "as-of readRange" -> (() => t.readRange(ts(lo), ts(hi), v1)))
  }

  private def agg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("qty")), min(col("qty")), max(col("qty")))

  /** (rows, jobs, final plan) of collecting `q`. */
  private def run(s: SparkSession, q: DataFrame): (Seq[Row], Int, SparkPlan) = {
    var rows = Seq.empty[Row]
    val jobs = JobCount.during(s) { rows = q.collect().toSeq }
    (rows, jobs, q.queryExecution.executedPlan)
  }

  private var plain: Map[String, (Seq[Row], Int)] = Map.empty

  override def beforeAll(): Unit = {
    super.beforeAll()
    SparkSpec.releaseSession()
    val s = SparkSpec.build("local[4]", extensions = false)
    try {
      val t = TsTable.create(s, tablePath, schema, writeOptions =
        TsWriteOptions(bloomCols = Seq("sym"), fileSpan = "hour"))
      t.append(ticksFrom(s, 0, ticksV1))
      t.append(ticksFrom(s, ticksV1, ticks))
      ticksFrom(s, 0, ticks).write.parquet(plainPath)
      plain = reads(s).map { case (k, q) =>
        val (rows, jobs, _) = run(s, agg(q()))
        k -> (rows, jobs)
      }.toMap
    } finally SparkSpec.releaseSession()
  }

  override def afterAll(): Unit = {
    try org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    finally super.afterAll()
  }

  private def spark = SparkSpec.session

  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case e: ShuffleExchangeExec => e }

  private def coalesces(plan: SparkPlan): Seq[CoalesceExec] =
    collect(plan) { case c: CoalesceExec => c }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("1-hour readRange, lookupEq and as-of read each run one job; two without the rule; same answers") {
    reads(spark).foreach { case (k, q) =>
      val (rows, jobs, plan) = run(spark, agg(q()))
      val (plainRows, plainJobs) = plain(k)
      assert(rows == plainRows, k)
      assert(rows.head.getLong(0) > 0, k)
      assert(plainJobs == 2, s"$k: reference session ran $plainJobs jobs")
      assert(jobs == 1, s"$k ran $jobs jobs:\n$plan")
      assert(exchanges(plan).isEmpty && coalesces(plan).size == 1, s"$k:\n$plan")
    }
    val ks = (0 until ticks).filter { k => val s = base + k * step; s >= lo && s <= hi }
    assert(plain("readRange")._1 ==
      Seq(Row(ks.size.toLong, ks.map(_.toLong).sum, ks.head.toLong, ks.last.toLong)))
  }

  test("a read that selects no file still returns its one aggregate row") {
    val t = TsTable.open(spark, tablePath)
    val q = agg(t.readRange(ts(base + 86400), ts(base + 90000)))
    val (rows, jobs, plan) = run(spark, q)
    assert(rows == Seq(Row(0L, null, null, null)), plan.toString)
    assert(jobs == 1 && coalesces(plan).size == 1, s"$jobs jobs:\n$plan")
  }

  test("a scan larger than spark.sql.files.openCostInBytes keeps its exchange") {
    withConf("spark.sql.files.openCostInBytes", "1024") {
      reads(spark).foreach { case (k, q) =>
        val (rows, jobs, plan) = run(spark, agg(q()))
        assert(rows == plain(k)._1, k)
        assert(jobs == 2 && coalesces(plan).isEmpty, s"$k ran $jobs jobs:\n$plan")
        assert(exchanges(plan).exists(e => e.outputPartitioning == SinglePartition &&
          e.shuffleOrigin == ENSURE_REQUIREMENTS), s"$k:\n$plan")
      }
    }
  }

  test("a user repartition(1), a plain parquet scan and a V2 connector scan keep their exchanges") {
    val t = TsTable.open(spark, tablePath)
    val rr = t.readRange(ts(lo), ts(hi))
    val (rows, jobs, plan) = run(spark, agg(rr.repartition(1)))
    assert(rows == plain("readRange")._1)
    assert(jobs == 2 && coalesces(plan).isEmpty, s"$jobs jobs:\n$plan")
    assert(exchanges(plan).map(_.shuffleOrigin) == Seq(REPARTITION_BY_NUM), plan.toString)

    val inRange = col("ts").between(lit(ts(lo)), lit(ts(hi)))
    Seq("parquet" -> spark.read.parquet(plainPath),
        "graft-ts" -> spark.read.format("graft-ts").load(tablePath)).foreach { case (k, df) =>
      val (rows, jobs, plan) = run(spark, agg(df.where(inRange)))
      assert(rows == plain("readRange")._1, k)
      assert(jobs == 2 && coalesces(plan).isEmpty, s"$k: $jobs jobs:\n$plan")
      assert(exchanges(plan).map(_.outputPartitioning) == Seq(SinglePartition), s"$k:\n$plan")
    }
  }

  test("with AQE off the plan keeps its exchange") {
    withConf("spark.sql.adaptive.enabled", "false") {
      reads(spark).foreach { case (k, q) =>
        val (rows, _, plan) = run(spark, agg(q()))
        assert(rows == plain(k)._1, k)
        assert(coalesces(plan).isEmpty, s"$k:\n$plan")
        assert(exchanges(plan).map(_.outputPartitioning) == Seq(SinglePartition), s"$k:\n$plan")
      }
    }
  }

  test("a grouped aggregate keeps its hash exchange") {
    val t = TsTable.open(spark, tablePath)
    val q = t.readRange(ts(lo), ts(hi)).groupBy("sym").agg(count(lit(1)), sum(col("qty")))
    val (rows, _, plan) = run(spark, q)
    assert(coalesces(plan).isEmpty, plan.toString)
    assert(exchanges(plan).map(_.outputPartitioning.getClass.getSimpleName) ==
      Seq("HashPartitioning"), plan.toString)
    // the generator's answer: ticks k in the hour, grouped by k % 3
    val ks = (0 until ticks).filter { k => val s = base + k * step; s >= lo && s <= hi }
    val want = ks.groupBy(_ % 3).map { case (m, g) => Row(s"S$m", g.size.toLong, g.map(_.toLong).sum) }
    assert(rows.sortBy(_.getString(0)) == want.toSeq.sortBy(_.getString(0)))
  }
}
