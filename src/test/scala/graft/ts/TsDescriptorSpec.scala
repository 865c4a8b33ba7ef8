package graft.ts

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The descriptor line format round-trips: what `encode` writes,
  * `decode` reads back as the same value, and descriptors written before
  * the options line existed still decode. */
class TsDescriptorSpec extends AnyFunSuite {

  private val schema = TsTable.stampFieldIds(StructType(Seq(
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("value", DoubleType))))

  private def roundTrips(d: TsDescriptor): Unit =
    assert(TsDescriptor.decode(d.encode) == d, d.encode)

  test("decode(encode(d)) == d for checks, tombstones and the field-id " +
      "high-water") {
    val opts = TsWriteOptions(codec = "zstd", rowGroupBytes = Some(1L << 20),
      statsCols = Seq("user_id"), bloomCols = Seq("user_id"), fileSpan = "hour")
    // CHECK SQL holding the line format's own separators
    roundTrips(TsDescriptor(schema, "ts", opts, checks = Seq(
      "a" -> "value IN (1, 2) AND user_id > 0",
      "b.c-d" -> "coalesce(value, 0) >= 0 -- key: v\nOR\nuser_id = 1")))
    // no checks, but tombstones: the empty checks placeholder line
    roundTrips(TsDescriptor(schema, "ts", opts, dropped = Seq("old", "tag")))
    // field-id high-water 0 (pre-id) and > 0
    roundTrips(TsDescriptor(StructType(schema.fields.map(
      _.copy(metadata = Metadata.empty))), "ts", opts))
    roundTrips(TsDescriptor(schema, "ts", opts, nextFieldId = 4L))
    roundTrips(TsDescriptor(schema, "ts", opts,
      checks = Seq("a" -> "value > 0"), dropped = Seq("x"), nextFieldId = 7L))
  }

  test("a pre-options descriptor (two lines) decodes to the default " +
      "options and round-trips from there") {
    val d = TsDescriptor.decode(schema.json + "\nts\n")
    assert(d == TsDescriptor(schema, "ts"))
    assert(d.options == TsWriteOptions())
    roundTrips(d)
  }
}
