package graft

import graft.ts.{TsBloomSpecAccess => A, TsTable, TsWriteOptions}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.{Date, Timestamp}

/** Write-time Bloom bits: every table write builds each file's bits in
  * the Parquet writer and stores them in the footer, and the commit takes
  * them from the footer open it already makes instead of re-reading the
  * file. Pins: footer bits are byte-identical to the harvest scan's for
  * every supported column type (nulls, an all-null column, NaN/±0.0) on
  * every write path (append with several files per task, V2 SQL INSERT,
  * copy-on-write rewrites, compaction); files without matching footer bits
  * (attached plain files, a widened column, changed bloomBits) still
  * harvest by scan; a lost sidecar heals from footers without a job; and
  * an append to a Bloom table starts no job beyond a Bloom-less twin's. */
class WriteTimeBloomSpec extends SparkSpec {

  private val BloomCols = Seq("s", "i", "l", "d", "dt", "t2", "nul")

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("s", StringType),
    StructField("i", IntegerType),
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("dt", DateType),
    StructField("t2", TimestampType),
    StructField("nul", StringType)))

  private def store(tag: String): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"), s"graft_wtbloom_$tag").toString
    val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(p), true)
    p
  }

  /** `n` rows from `start` one second apart, crossing midnight when the
    * start is late in a day; nulls sprinkled per column, `nul` all-null,
    * and the doubles include NaN, 0.0 and -0.0. */
  private def rows(start: String, n: Int, offset: Int = 0): DataFrame = {
    val t0 = Timestamp.valueOf(start).getTime
    val data = (0 until n).map { j =>
      val k = j + offset
      val ts = new Timestamp(t0 + j * 1000L)
      Row(ts,
        if (k % 7 == 0) null else s"k${k % 40}",
        if (k % 11 == 0) null else Integer.valueOf(k % 50),
        java.lang.Long.valueOf(k * 1000L),
        java.lang.Double.valueOf(k % 13 match {
          case 0 => Double.NaN
          case 1 => -0.0
          case 2 => 0.0
          case _ => k * 0.5
        }),
        if (k % 5 == 0) null else Date.valueOf(ts.toLocalDateTime.toLocalDate.minusDays(k % 3)),
        new Timestamp(t0 + j * 1000L + 123456L),
        null)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  private def table(tag: String, opts: TsWriteOptions = TsWriteOptions(bloomCols = BloomCols))
      : TsTable =
    TsTable.create(spark, store(tag), schema, writeOptions = opts)

  private def fs(t: TsTable) =
    new Path(t.path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sidecar(t: TsTable) = A.sidecar(spark, fs(t), t.path, t.currentVersion.get)

  private def same(a: Map[String, Array[Byte]], b: Map[String, Array[Byte]]): Boolean =
    a.keySet == b.keySet && a.forall { case (c, v) => java.util.Arrays.equals(v, b(c)) }

  /** Every live dated file: the footer carries bits for every declared
    * column, they equal the harvest scan's byte for byte, and the
    * committed sidecar holds exactly them. */
  private def assertFooterBits(t: TsTable): Unit = {
    val rels = A.liveDated(t)
    assert(rels.nonEmpty)
    val side = sidecar(t)
    val scanned = A.harvest(t, rels)
    rels.foreach { r =>
      val foot = A.footerBits(t, r)
      assert(foot.keySet == t.writeOptions.bloomCols.toSet, s"$r footer: ${foot.keySet}")
      assert(same(foot, scanned(r)), s"$r: footer bits differ from the harvest scan")
      assert(same(foot, side(r)), s"$r: sidecar does not hold the footer bits")
    }
  }

  test("footer bits equal the harvest scan for string/int/long/double/date/timestamp " +
      "columns with nulls and an all-null column, several files per task") {
    val t = table("types",
      TsWriteOptions(bloomCols = BloomCols, maxRecordsPerFile = Some(70)))
    t.append(rows("2024-03-01 23:56:00", 400))
    val rels = A.liveDated(t)
    assert(rels.size >= 6 && rels.map(_.split("/").head).distinct.size == 2,
      s"expected several files on each of two days, got $rels")
    assertFooterBits(t)
    // probes through the committed bits find every value, for every type
    val all = t.toDF.collect()
    Seq("s" -> all.flatMap(r => Option(r.getString(1))).head,
      "i" -> all.flatMap(r => Option(r.get(2))).head,
      "l" -> all(17).getLong(3),
      "d" -> 7.5,
      "dt" -> all.flatMap(r => Option(r.getDate(5))).head,
      "t2" -> all(3).getTimestamp(6)).foreach { case (c, v) =>
      assert(t.lookupEq(c, Seq(v)).count() == t.toDF.where(col(c) === lit(v)).count(),
        s"lookupEq on $c")
    }
    assert(graft.ts.TsBloomSpecAccess.plannedFiles(t, "nul", Seq("x")).isEmpty)
  }

  test("the V2 SQL INSERT path writes footer bits too") {
    val t = table("v2")
    t.append(rows("2024-03-01 10:00:00", 100))
    rows("2024-03-02 10:00:00", 120, offset = 100).createOrReplaceTempView("wtbloom_batch")
    spark.sql(s"INSERT INTO graft_ts.`${t.path}` SELECT * FROM wtbloom_batch")
    assert(A.liveDated(t).exists(_.startsWith("p_date=2024-03-02/")))
    assertFooterBits(t)
  }

  test("copy-on-write rewrites (update, merge) and compactDays write footer bits") {
    val t = table("rewrite")
    t.append(rows("2024-03-01 10:00:00", 150))
    t.append(rows("2024-03-01 12:00:00", 150, offset = 150))
    assert(t.updateWhere(col("i") === 3, Map("s" -> lit("updated"))) > 0)
    assertFooterBits(t)
    val src = rows("2024-03-01 12:00:00", 5, offset = 150)
      .withColumn("l", col("l") + 1)
    assert(t.mergeInto(src, keys = Seq("ts")).updated == 5)
    assertFooterBits(t)
    t.append(rows("2024-03-01 14:00:00", 50, offset = 300))
    assert(A.liveDated(t).size > 1)
    assert(t.compactDays(Seq("2024-03-01")) == Seq("2024-03-01"))
    assert(A.liveDated(t).size == 1)
    assertFooterBits(t)
    assert(t.lookupEq("s", Seq("updated")).count() ==
      t.toDF.where(col("s") === "updated").count())
  }

  test("an append to a Bloom table starts no job beyond its Bloom-less twin's") {
    val bloomy = table("jobs_bloom")
    val plain = table("jobs_plain", TsWriteOptions())
    bloomy.append(rows("2024-03-01 10:00:00", 100))
    plain.append(rows("2024-03-01 10:00:00", 100))
    val next = rows("2024-03-01 11:00:00", 100, offset = 100).localCheckpoint()
    val withBits = JobCount.during(spark)(bloomy.append(next))
    val without = JobCount.during(spark)(plain.append(next))
    assert(withBits == without,
      s"Bloom append ran $withBits jobs, the Bloom-less twin $without")
    assertFooterBits(bloomy)
  }

  test("a lost sidecar heals from footers with no Spark job") {
    val t = table("heal")
    t.append(rows("2024-03-01 10:00:00", 100))
    t.append(rows("2024-03-02 10:00:00", 100, offset = 100))
    val before = sidecar(t)
    fs(t).delete(new Path(t.path, f"_ts_versions/v${t.currentVersion.get}%08d.blooms"), false)
    val jobs = JobCount.during(spark)(t.checkpoint())
    assert(jobs == 0, s"healing commit ran $jobs job(s)")
    val after = sidecar(t)
    assert(after.keySet == before.keySet && after.forall { case (r, m) => same(m, before(r)) })
  }

  test("files without matching footer bits still harvest by scan: attached " +
      "plain file, widened column, changed bloomBits") {
    val t = table("fallback", TsWriteOptions(bloomCols = Seq("i", "s")))
    t.append(rows("2024-03-01 10:00:00", 100))
    // attached plain parquet (no footer bits): harvested at the capturing commit
    rows("2024-03-02 10:00:00", 20, offset = 100)
      .write.parquet(t.path + "/p_date=2024-03-02")
    t.checkpoint()
    val attached = A.liveDated(t).filter(_.startsWith("p_date=2024-03-02/"))
    assert(attached.nonEmpty && attached.forall(r => A.footerBits(t, r).isEmpty))
    attached.foreach(r => assert(same(sidecar(t)(r), A.harvest(t, Seq(r))(r))))
    assert(t.lookupEq("i", Seq(1)).count() == t.toDF.where(col("i") === 1).count())

    // widened: int-keyed footer bits no longer match; the widen's indexing
    // commit harvests long hashes, and new appends carry long-keyed bits
    val w = t.widenColumn("i", LongType)
    val old = A.liveDated(w)
    old.foreach { r =>
      assert(!A.footerBits(w, r).contains("i"))
      assert(same(sidecar(w)(r), A.harvest(w, Seq(r))(r)))
    }
    assert(w.lookupEq("i", Seq(3L)).count() == w.toDF.where(col("i") === 3L).count())
    w.append(rows("2024-03-03 10:00:00", 50, offset = 200).withColumn("i", col("i").cast("long")))
    val fresh = A.liveDated(w).filterNot(old.contains)
    assert(fresh.nonEmpty && fresh.forall(r => A.footerBits(w, r).keySet == Set("i", "s")))

    // changed bloomBits: re-collected files (here: all, after a lost
    // sidecar) fall back to the scan at the new size
    val b = A.withBloomBits(w, 4096L)
    fs(b).delete(new Path(b.path, f"_ts_versions/v${b.currentVersion.get}%08d.blooms"), false)
    b.checkpoint()
    val rels = A.liveDated(b)
    val side = sidecar(b)
    rels.foreach { r =>
      assert(A.footerBits(b, r).isEmpty)
      assert(same(side(r), A.harvest(b, Seq(r))(r)))
      assert(org.apache.spark.util.sketch.BloomFilter.readFrom(side(r)("s")).bitSize() == 4096L)
    }
    assert(b.lookupEq("s", Seq("k3")).count() == b.toDF.where(col("s") === "k3").count())
  }
}
