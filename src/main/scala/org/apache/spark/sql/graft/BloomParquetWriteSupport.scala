package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

/** Parquet write support that builds each file's Bloom bits while its rows
  * stream through the writer, and stores them in the file's footer
  * key-value metadata — so a commit reads a just-written file's bits with
  * the footer open it already makes for ts spans, instead of a second
  * Spark query that re-reads the file.
  *
  * The bits are exactly what the commit-time harvest
  * (`TsTable.harvestBlooms`, a `BloomFilterAggregate` over
  * `xxhash64(col)` of the non-null cells) builds for the same file: the
  * same hash expression (seed 42), the same filter shape with the same
  * session caps ([[BloomParquetWriteSupport.shape]]), and an empty filter
  * for a column with no non-null cell. One instance writes one file, so
  * `maxRecordsPerFile` splits get their own bits.
  *
  * Each entry's key names the column, its type, the declared bit count and
  * its parquet field id ([[BloomParquetWriteSupport.footerKey]]). A reader
  * takes an entry only when the key it derives from the table's current
  * declaration is present, so a widened or renamed column, changed
  * `bloomBits`, or a file copied from a table with other field ids falls
  * back to the harvest scan. */
final class BloomParquetWriteSupport extends ParquetWriteSupport {
  import BloomParquetWriteSupport._

  private var ords: Array[Int] = Array.empty
  private var hashes: Array[XxHash64] = Array.empty
  private var filters: Array[BloomFilter] = Array.empty
  private var keys: Array[String] = Array.empty

  override def init(conf: Configuration): WriteSupport.WriteContext = {
    val ctx = super.init(conf)
    val schema = DataType.fromJson(conf.get(ParquetWriteSupport.SPARK_ROW_SCHEMA))
      .asInstanceOf[StructType]
    val bits = conf.getLong(BitsKey, 0L)
    val fields = conf.getTrimmedStrings(ColsKey).toSeq
      .flatMap(c => schema.getFieldIndex(c).map(i => (i, schema(i))))
    ords = fields.map(_._1).toArray
    hashes = fields.map { case (i, f) =>
      new XxHash64(Seq(BoundReference(i, f.dataType, nullable = true)))
    }.toArray
    filters = fields.map(_ =>
      BloomFilter.create(conf.getLong(ItemsKey, 1L), conf.getLong(NumBitsKey, bits)))
      .toArray
    keys = fields.map { case (_, f) => footerKey(f, bits) }.toArray
    ctx
  }

  override def write(row: InternalRow): Unit = {
    super.write(row)
    var i = 0
    while (i < ords.length) {
      if (!row.isNullAt(ords(i)))
        filters(i).putLong(hashes(i).eval(row).asInstanceOf[Long])
      i += 1
    }
  }

  override def finalizeWrite(): WriteSupport.FinalizedWriteContext = {
    val meta = new java.util.HashMap[String, String]()
    keys.indices.foreach(i => meta.put(keys(i), encode(filters(i))))
    new WriteSupport.FinalizedWriteContext(meta)
  }
}

object BloomParquetWriteSupport {
  /** Write options naming the Bloom columns and their declared bit count;
    * the table's Parquet format turns them into [[configure]]. */
  val ColsOption = "graft.bloomCols"
  val BitsOption = "graft.bloomBits"

  private val ColsKey = "graft.bloom.cols"
  private val BitsKey = "graft.bloom.bits"
  private val ItemsKey = "graft.bloom.items"
  private val NumBitsKey = "graft.bloom.numBits"
  private val FieldIdKey = "parquet.field.id"

  /** The footer key of one column's bits. */
  def footerKey(field: StructField, bits: Long): String = {
    val id =
      if (field.metadata.contains(FieldIdKey)) field.metadata.getLong(FieldIdKey).toString
      else ""
    s"graft.bloom|${field.name}|${field.dataType.catalogString}|$bits|$id"
  }

  /** (expected items, bits) of the filter `BloomFilterAggregate` builds for
    * `bits` declared bits: items at bits/10, both capped by the session's
    * runtime Bloom filter limits exactly as the aggregate caps them. */
  def shape(bits: Long): (Long, Long) = {
    val conf = SQLConf.get
    ((bits / 10L).max(1L).min(conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)),
      bits.min(conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)))
  }

  /** Serialized filter with no value in it — a column's bits when the file
    * holds no non-null cell of it. */
  def emptyBits(bits: Long): Array[Byte] = {
    val (items, numBits) = shape(bits)
    encodeRaw(BloomFilter.create(items, numBits))
  }

  /** Arm a write job's configuration so every file it writes carries bits
    * for `cols` in its footer. A no-op without Bloom columns: the plain
    * Parquet write support stays in place. */
  def configure(conf: Configuration, cols: Seq[String], bits: Long): Unit =
    if (cols.nonEmpty) {
      conf.setClass(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
        classOf[BloomParquetWriteSupport], classOf[WriteSupport[_]])
      conf.setStrings(ColsKey, cols: _*)
      conf.setLong(BitsKey, bits)
      val (items, numBits) = shape(bits)
      conf.setLong(ItemsKey, items)
      conf.setLong(NumBitsKey, numBits)
    }

  /** Footer value → serialized filter bytes (the sidecar's value form). */
  def decode(value: String): Array[Byte] = java.util.Base64.getDecoder.decode(value)

  private def encode(bf: BloomFilter): String =
    java.util.Base64.getEncoder.encodeToString(encodeRaw(bf))

  private def encodeRaw(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
