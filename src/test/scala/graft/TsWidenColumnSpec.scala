package graft

import graft.ts.{TsTable, TsWriteOptions}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** `TsTable.widenColumn` — pure-DDL type widening on the lossless ladder:
  * old files keep their narrow physical encoding and promote at read
  * time; pins serve each version's own types; a widened bloom column
  * re-harvests under the wide type (int and long hash differently);
  * lossy/narrowing/unknown changes refuse; restore rolls the files AND
  * the type back together. */
class TsWidenColumnSpec extends SparkSpec {

  private val narrowSchema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("user_id", IntegerType),
    StructField("value", FloatType)))

  private def t(s: String) = Timestamp.valueOf(s)

  private def mk(rows: Seq[(String, Int, Float)]) = {
    val data = rows.map { case (ts0, u, v) =>
      org.apache.spark.sql.Row(t(ts0), u, v) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), narrowSchema)
  }

  private def freshDir(tag: String): String = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), s"graft_widen_$tag").toString
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    dir
  }

  test("widen int->long and float->double mid-history: narrow files " +
      "promote, wide appends land wide, a pre-widen pin serves narrow") {
    val dir = freshDir("mid")
    val tab = TsTable.create(spark, dir, narrowSchema)
    tab.append(mk(Seq(
      ("2024-03-01 10:00:00", 1, 1.5f),
      ("2024-03-01 11:00:00", 2, 2.5f))))
    val preWiden = tab.currentVersion.get
    val wide = TsTable.open(spark, dir)
      .widenColumn("user_id", LongType)
      .widenColumn("value", DoubleType)
    assert(wide.schema("user_id").dataType == LongType)
    assert(wide.schema("value").dataType == DoubleType)
    assert(wide.snapshotVersions.count(_._2 == "widen") == 2)
    // a wide append joins the narrow files
    import spark.implicits._
    wide.append(Seq((t("2024-03-02 09:00:00"), 3L, 3.5))
      .toDF("ts", "user_id", "value"))
    val re = TsTable.open(spark, dir)
    val got = re.toDF.orderBy("ts").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)),
      "narrow files must promote value-identically next to wide ones")
    // range read crosses both generations
    assert(re.readRange(t("2024-03-01 00:00:00"), t("2024-03-02 23:59:59"))
      .count() == 3)
    // the pre-widen pin serves the NARROW types (its own schema)
    val pin = TsTable.openAt(spark, dir, preWiden)
    assert(pin.schema("user_id").dataType == IntegerType)
    assert(pin.toDF.collect().map(_.getInt(1)).sorted.toSeq == Seq(1, 2))
  }

  test("a widened bloom column re-harvests under the wide type: probes " +
      "prune and find (int/long hash differently)") {
    val dir = freshDir("bloom")
    val tab = TsTable.create(spark, dir, narrowSchema,
      writeOptions = TsWriteOptions(bloomCols = Seq("user_id")))
    tab.append(mk(Seq(("2024-03-01 10:00:00", 101, 1.0f))))
    tab.append(mk(Seq(("2024-03-02 10:00:00", 202, 2.0f))))
    val wide = TsTable.open(spark, dir).widenColumn("user_id", LongType)
    assert(wide.writeOptions.bloomCols == Seq("user_id"),
      "the bloom declaration must survive the widen")
    assert(wide.snapshotVersions.last._2 == "indexing",
      "the widen must re-harvest the column's bits under the wide type")
    // probes hash LONG now — the rebuilt bits must both prune and find
    val cands = graft.ts.TsBloomSpecAccess.plannedFiles(wide, "user_id", Seq(202L))
    assert(cands.length == 1 && cands.head.startsWith("p_date=2024-03-02/"),
      s"post-widen probe must prune to the owning file, got $cands")
    assert(wide.lookupEq("user_id", Seq(202L)).count() == 1,
      "a wrongly-skipped file would lose this row")
    assert(graft.ts.TsBloomSpecAccess.plannedFiles(wide, "user_id", Seq(999L)).isEmpty)
  }

  test("widen with TWO declared bloom columns: the widened column still " +
      "re-harvests (stale narrow bits must not ride the other column's " +
      "carried sidecar map) and probes find narrow-era rows") {
    val dir = freshDir("bloom2")
    val schema2 = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("user_id", IntegerType),
      StructField("other_id", LongType),
      StructField("value", FloatType)))
    val tab = TsTable.create(spark, dir, schema2,
      writeOptions = TsWriteOptions(bloomCols = Seq("user_id", "other_id")))
    def mk2(rows: Seq[(String, Int, Long, Float)]) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (ts0, u, o, v) =>
          org.apache.spark.sql.Row(t(ts0), u, o, v) }, 2), schema2)
    tab.append(mk2(Seq(("2024-03-01 10:00:00", 101, 9001L, 1.0f))))
    tab.append(mk2(Seq(("2024-03-02 10:00:00", 202, 9002L, 2.0f))))
    val wide = TsTable.open(spark, dir).widenColumn("user_id", LongType)
    assert(wide.writeOptions.bloomCols == Seq("user_id", "other_id"),
      "both bloom declarations must survive the widen")
    // the regression: with a SECOND declared column keeping the per-file
    // sidecar maps alive through the widen commit, the widened column's
    // stale INT-hashed bits must still be dropped so the indexing commit
    // genuinely re-harvests under LONG — otherwise probes hash the wide
    // type against narrow-type bits and silently skip narrow-era files
    val cands = graft.ts.TsBloomSpecAccess.plannedFiles(wide, "user_id", Seq(202L))
    assert(cands.length == 1 && cands.head.startsWith("p_date=2024-03-02/"),
      s"post-widen probe must prune to the owning file, got $cands")
    assert(wide.lookupEq("user_id", Seq(101L)).count() == 1,
      "narrow-era row lost: stale narrow-type bits were carried forward")
    assert(wide.lookupEq("user_id", Seq(202L)).count() == 1)
    assert(graft.ts.TsBloomSpecAccess.plannedFiles(wide, "user_id", Seq(999L)).isEmpty)
    // the untouched second column's bits keep working across the widen
    val other = graft.ts.TsBloomSpecAccess.plannedFiles(wide, "other_id", Seq(9001L))
    assert(other.length == 1 && other.head.startsWith("p_date=2024-03-01/"),
      s"the other bloom column must keep pruning, got $other")
    assert(wide.lookupEq("other_id", Seq(9002L)).count() == 1)
  }

  test("widen decimal(9,2)->decimal(20,2) mid-history: narrow-decimal " +
      "files promote value-identically across the INT32->bytes physical " +
      "boundary, wide appends join, a pre-widen pin serves narrow") {
    val dir = freshDir("decimal")
    val decSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("user_id", IntegerType),
      StructField("amount", DecimalType(9, 2))))
    def mkDec(rows: Seq[(String, Int, String)]) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (ts0, u, a) =>
          org.apache.spark.sql.Row(t(ts0), u, new java.math.BigDecimal(a)) }, 2),
        decSchema)
    val tab = TsTable.create(spark, dir, decSchema)
    tab.append(mkDec(Seq(
      ("2024-03-01 10:00:00", 1, "1234567.89"),
      ("2024-03-01 11:00:00", 2, "-0.01"))))
    val preWiden = tab.currentVersion.get
    val wide = TsTable.open(spark, dir)
      .widenColumn("amount", DecimalType(20, 2))
    assert(wide.schema("amount").dataType == DecimalType(20, 2))
    // a wide append exceeding the narrow precision joins the narrow files
    wide.append(mkDec(Seq(("2024-03-02 09:00:00", 3, "0.00")))
      .withColumn("amount",
        lit("123456789012345678.99").cast(DecimalType(20, 2))))
    val re = TsTable.open(spark, dir)
    val got = re.toDF.orderBy("ts").collect()
      .map(r => r.getDecimal(2).toPlainString).toSeq
    assert(got == Seq("1234567.89", "-0.01", "123456789012345678.99"),
      "narrow-decimal files must promote value-identically next to wide ones")
    assert(re.readRange(t("2024-03-01 00:00:00"), t("2024-03-02 23:59:59"))
      .count() == 3)
    // the pre-widen pin serves the NARROW decimal (its own schema)
    val pin = TsTable.openAt(spark, dir, preWiden)
    assert(pin.schema("amount").dataType == DecimalType(9, 2))
    assert(pin.toDF.collect().map(_.getDecimal(2).toPlainString).sorted.toSeq ==
      Seq("-0.01", "1234567.89"))
  }

  test("a widened DECIMAL bloom column re-harvests under the wide type: " +
      "probes prune and find narrow-era rows") {
    val dir = freshDir("decbloom")
    val decSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("amount", DecimalType(9, 2)),
      StructField("value", FloatType)))
    def mkDec(rows: Seq[(String, String, Float)]) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (ts0, a, v) =>
          org.apache.spark.sql.Row(t(ts0), new java.math.BigDecimal(a), v) }, 2),
        decSchema)
    val tab = TsTable.create(spark, dir, decSchema,
      writeOptions = TsWriteOptions(bloomCols = Seq("amount")))
    tab.append(mkDec(Seq(("2024-03-01 10:00:00", "111.11", 1.0f))))
    tab.append(mkDec(Seq(("2024-03-02 10:00:00", "222.22", 2.0f))))
    val wide = TsTable.open(spark, dir)
      .widenColumn("amount", DecimalType(20, 2))
    assert(wide.snapshotVersions.last._2 == "indexing",
      "the widen must re-harvest the column's bits under the wide type")
    // probes hash decimal(20,2) now — rebuilt bits must prune AND find
    // (compact-long vs byte-array decimals hash differently, the same
    // trap as int/long)
    val cands = graft.ts.TsBloomSpecAccess.plannedFiles(wide, "amount",
      Seq(new java.math.BigDecimal("222.22")))
    assert(cands.length == 1 && cands.head.startsWith("p_date=2024-03-02/"),
      s"post-widen probe must prune to the owning file, got $cands")
    assert(wide.lookupEq("amount",
      Seq(new java.math.BigDecimal("111.11"))).count() == 1,
      "narrow-era row lost: stale narrow-type bits were carried forward")
    assert(graft.ts.TsBloomSpecAccess.plannedFiles(wide, "amount",
      Seq(new java.math.BigDecimal("999.99"))).isEmpty)
  }

  test("decimal refusals: scale change, precision shrink, and " +
      "cross-family moves are not widenings") {
    val dir = freshDir("decrefuse")
    val tab = TsTable.create(spark, dir, StructType(Seq(
      StructField("ts", TimestampType),
      StructField("amount", DecimalType(9, 2)))))
    val e1 = intercept[IllegalArgumentException](
      tab.widenColumn("amount", DecimalType(12, 4)))
    assert(e1.getMessage.contains("not a"), e1.getMessage)
    intercept[IllegalArgumentException](
      tab.widenColumn("amount", DecimalType(7, 2)))
    intercept[IllegalArgumentException](
      tab.widenColumn("amount", DoubleType))
  }

  test("refusals: lossy long->double, narrowing, unknown column, the ts axis") {
    val dir = freshDir("refuse")
    val tab = TsTable.create(spark, dir, StructType(Seq(
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("value", FloatType))))
    val e1 = intercept[IllegalArgumentException](
      tab.widenColumn("user_id", DoubleType))
    assert(e1.getMessage.contains("lose precision"))
    intercept[IllegalArgumentException](tab.widenColumn("value", FloatType))
    intercept[IllegalArgumentException](tab.widenColumn("nope", LongType))
    intercept[IllegalArgumentException](tab.widenColumn("ts", LongType))
  }

  test("a stream started AFTER a mid-history widen replays both eras " +
      "under the WIDE types (the pre-widen horizon upcasts losslessly)") {
    val dir = freshDir("stream")
    val tab = TsTable.create(spark, dir, narrowSchema)
    tab.append(mk(Seq(("2024-03-01 10:00:00", 11, 1.5f))))
    val wide = TsTable.open(spark, dir)
      .widenColumn("user_id", LongType).widenColumn("value", DoubleType)
    import spark.implicits._
    wide.append(Seq((t("2024-03-02 09:00:00"), 22L, 2.5))
      .toDF("ts", "user_id", "value"))
    val got = scala.collection.mutable.Map[Long, Double]()
    val ckpt = java.nio.file.Files.createTempDirectory("widen_stream").toString
    val q = spark.readStream.format("graft-ts")
      .option("startingVersion", "0").load(dir)
      .writeStream.option("checkpointLocation", s"$ckpt/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        assert(b.schema("user_id").dataType == LongType &&
          b.schema("value").dataType == DoubleType,
          "the stream must serve its declared (post-widen) types")
        b.collect().foreach(r => got(r.getLong(1)) = r.getDouble(2))
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(got.toMap == Map(11L -> 1.5, 22L -> 2.5),
        "narrow-era rows must replay upcast with their exact values")
    } finally q.stop()
  }

  test("a widen landing MID-STREAM fails the query loudly with a restart " +
      "instruction — never serves wide rows under the narrow declared " +
      "schema — and the restarted stream adopts the wide types") {
    val dir = freshDir("midstream")
    val tab = TsTable.create(spark, dir, narrowSchema)
    tab.append(mk(Seq(("2024-03-01 10:00:00", 1, 1.0f))))
    val ckpt = java.nio.file.Files.createTempDirectory("widen_mid").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = spark.readStream.format("graft-ts")
      .option("startingVersion", "0").load(dir)
      .writeStream.option("checkpointLocation", s"$ckpt/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("user_id").collect()
          .foreach(r => seen.add(r.getAs[Number](0).longValue))
        ()
      }.start()
    val q = start()
    try {
      q.processAllAvailable() // drains the narrow era under int
      TsTable.open(spark, dir).widenColumn("user_id", LongType)
        .append { import spark.implicits._
          Seq((t("2024-03-02 09:00:00"), 2L, 2.0f)).toDF("ts", "user_id", "value") }
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t0: Throwable): Iterator[String] =
        Iterator.iterate(t0)(_.getCause).takeWhile(_ != null)
          .flatMap(x => Option(x.getMessage))
      assert(msgs(e).exists(m => m.contains("restart the streaming query")),
        s"the refusal must name the fix, got: ${e.getMessage}")
    } finally q.stop()
    // the restarted query re-reads the descriptor: wide schema, and the
    // post-widen batch (blocked above) now drains
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(q2.exception.isEmpty, s"restart must succeed: ${q2.exception}")
      assert(seen.contains(1L) && seen.contains(2L),
        s"both eras must have streamed across the restart, got $seen")
    } finally q2.stop()
  }

  test("compact after a widen ages the narrow bytes out: rewritten files " +
      "are physically wide, a pre-widen pin still serves narrow through " +
      "the archive") {
    val dir = freshDir("compact")
    val tab = TsTable.create(spark, dir, narrowSchema)
    tab.append(mk(Seq(("2024-03-01 10:00:00", 1, 1.5f))))
    tab.append(mk(Seq(("2024-03-01 11:00:00", 2, 2.5f))))
    val preWiden = tab.currentVersion.get
    val wide = TsTable.open(spark, dir)
      .widenColumn("user_id", LongType).widenColumn("value", DoubleType)
    assert(wide.compactAll(targetFiles = 1) == Seq("2024-03-01"))
    // the rewritten file's PHYSICAL schema is the wide one
    val file = new java.io.File(dir, "p_date=2024-03-01").listFiles
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val physical = spark.read.parquet(file.getPath).schema
    assert(physical("user_id").dataType == LongType &&
      physical("value").dataType == DoubleType,
      s"compact must re-encode wide, got ${physical.simpleString}")
    // content survived the widen + compact chain
    val rows = TsTable.open(spark, dir).toDF.orderBy("ts").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 1.5), (2L, 2.5)))
    // the pre-widen pin resolves the archived NARROW files with its own
    // narrow schema (each version's own types, served through _ts_archive)
    val pin = TsTable.openAt(spark, dir, preWiden)
    assert(pin.schema("user_id").dataType == IntegerType)
    assert(pin.toDF.collect().map(_.getInt(1)).sorted.toSeq == Seq(1, 2))
  }

  test("restore across a widen rolls the files AND the narrow type back " +
      "together — no wide file ever meets a narrow read") {
    val dir = freshDir("restore")
    val tab = TsTable.create(spark, dir, narrowSchema)
    tab.append(mk(Seq(("2024-03-01 10:00:00", 1, 1.5f))))
    val preWiden = tab.currentVersion.get
    val wide = TsTable.open(spark, dir).widenColumn("value", DoubleType)
    import spark.implicits._
    wide.append(Seq((t("2024-03-02 09:00:00"), 2, 3.5))
      .toDF("ts", "user_id", "value"))
    wide.restore(preWiden)
    val re = TsTable.open(spark, dir)
    assert(re.schema("value").dataType == FloatType)
    val rows = re.toDF.collect()
    assert(rows.length == 1 && rows.head.getFloat(2) == 1.5f,
      "restore must serve exactly the narrow-era state under narrow types")
  }
}
