package org.apache.spark.sql.graft

import java.io.DataOutput

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{Text, WritableUtils}

/** A copy of a Hadoop conf that ships without its provenance.
  * `Configuration.write` follows each property's key and value with the
  * resources that set it, through `writeCompressedStringArray`, which
  * opens a fresh `GZIPOutputStream` per property: a session conf of about
  * 1,100 properties takes milliseconds to serialize that way (3.6 ms
  * against 0.13 ms without provenance on a 4-core host), and every scan
  * pays it on the driver when Parquet broadcasts its reader's conf. This
  * class writes the same stream with each provenance array null
  * (`writeInt(-1)`, the bytes `writeCompressedStringArray(null)` emits),
  * so the receiving side — `SerializableConfiguration.readObject` into a
  * plain `Configuration.readFields` — gets every property unchanged. Only
  * the provenance differs there: `readFields` sets each key through
  * `set`, so the copy's `getPropertySources` reports "programmatically"
  * (plus the deprecation note for a deprecated key) instead of the
  * resource that set it. The driver-side object keeps its provenance. */
final class LeanConfiguration(other: Configuration) extends Configuration(other) {

  override def write(out: DataOutput): Unit = {
    val props = getProps
    WritableUtils.writeVInt(out, props.size)
    props.forEach { (k, v) =>
      Text.writeString(out, k.asInstanceOf[String])
      Text.writeString(out, v.asInstanceOf[String])
      out.writeInt(-1)
    }
  }
}
