package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-loader regression guard (round 13). The driver regenerated the
  * testdata between r11 and r12, silently switching `events.ts` from parquet
  * TIMESTAMP(NANOS) (readable only as int64 via nanosAsLong) to plain
  * TIMESTAMP(MICROS) — which broke every events-based query for a full round
  * because the loader unconditionally applied the ns→µs division. These
  * tests pin the adaptive dispatch in `Tables.events` against BOTH physical
  * formats so the next format flip fails HERE, not in the driver's sweep. */
class TablesSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-tables-spec").toString

  test("events loader passes native timestamp[us] fixtures through unchanged") {
    val df = Tables.events(spark, sf0001)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.columns.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    // Domain pin (FIXTURES.md): January 2024, µs precision survives the load.
    val (lo, hi) = {
      val r = df.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(lo >= 1704067200000000L && hi < 1706659200000000L,
      s"events.ts outside 2024-01 UTC: [$lo, $hi]")
    assert(lo % 1000000L != 0L || hi % 1000000L != 0L,
      "sub-second precision lost in the load path")
  }

  test("events loader converts legacy int64-nanos fixtures via ns div 1000") {
    val dir = tmp()
    // Simulate the pre-r12 read shape: nanosAsLong surfaces TIMESTAMP(NANOS)
    // as LongType, so an int64 `ts` column IS what the loader used to see.
    val nsRow = 1704067200123456789L // 2024-01-01 00:00:00.123456789 UTC
    spark.range(1).select(
      lit(7L).as("event_id"), lit(nsRow).as("ts"), lit(1L).as("user_id"),
      lit("view").as("event_type"), lit(2.5).as("value"),
      lit("""{"k": 1}""").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    val us = df.select(unix_micros(col("ts"))).head().getLong(0)
    assert(us == nsRow / 1000L, s"expected floor-division ns→µs, got $us")
  }

  test("a file rewritten at the same path is loaded with its new schema") {
    val dir = tmp()
    spark.range(3).select(col("id").as("r_regionkey"), lit("x").as("r_name"))
      .write.parquet(s"$dir/region.parquet")
    assert(Tables.region(spark, dir).columns.toSeq == Seq("r_regionkey", "r_name"))
    spark.range(3).select(col("id").as("r_regionkey"), lit("x").as("r_name"),
        lit("c").as("r_comment"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val df = Tables.region(spark, dir)
    assert(df.columns.toSeq == Seq("r_regionkey", "r_name", "r_comment"))
    assert(df.where(col("r_comment") === "c").count() == 3)
  }

  test("all fixture tables load with stable column sets at sf0.001") {
    val expected = Map(
      "region" -> 2, "nation" -> 3, "supplier" -> 4, "customer" -> 5,
      "part" -> 6, "orders" -> 6, "lineitem" -> 11, "events" -> 6,
      "documents" -> 5, "embeddings" -> 3)
    Tables.all.foreach { t =>
      val df = Tables.load(spark, sf0001, t)
      assert(df.columns.length == expected(t), s"$t column count drifted")
      assert(df.limit(1).count() == 1, s"$t is empty")
    }
    // Timestamp columns must land as instants (TimestampType), never NTZ —
    // inferTimestampNTZ=false is part of the Tables.init contract.
    assert(Tables.orders(spark, sf0001).schema("o_orderdate").dataType == TimestampType)
    assert(Tables.lineitem(spark, sf0001).schema("l_shipdate").dataType == TimestampType)
  }
}
