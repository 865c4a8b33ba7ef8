package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.ts.TsTable
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** A TsTable write encodes timestamps as INT64 `TIMESTAMP(MICROS)` in its
  * own write job and leaves the caller's session conf as it found it. */
class TsWriteTimestampSpec extends SparkSpec {

  private val Key = "spark.sql.parquet.outputTimestampType"

  test("an append under an INT96 session writes INT64 micros and keeps the session at INT96") {
    val schema = StructType(Seq(StructField("ts", TimestampType), StructField("v", DoubleType)))
    val p = new java.io.File(sys.props("java.io.tmpdir"), "graft_ts_write_int96").toString
    val conf = spark.sparkContext.hadoopConfiguration
    new Path(p).getFileSystem(conf).delete(new Path(p), true)
    val prev = spark.conf.get(Key)
    spark.conf.set(Key, "INT96")
    try {
      val t = TsTable.create(spark, p, schema)
      t.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(Timestamp.valueOf("2024-05-01 10:00:00"), 1.0),
        Row(Timestamp.valueOf("2024-05-01 10:00:01"), 2.0)), 1), schema))
      assert(spark.conf.get(Key) == "INT96")
      val s = Files.walk(Paths.get(p))
      val files = try s.iterator.asScala.map(_.toString)
        .filter(f => f.endsWith(".parquet") && f.contains("/p_date=")).toList
        finally s.close()
      assert(files.nonEmpty)
      files.foreach { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
        val fileSchema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
        val ts = fileSchema.getType(fileSchema.getFieldIndex("ts")).asPrimitiveType
        assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64, f)
        assert(ts.getLogicalTypeAnnotation ==
          LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS), f)
      }
      assert(t.toDF.count() == 2)
    } finally spark.conf.set(Key, prev)
  }
}
