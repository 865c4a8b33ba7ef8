package graft

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.spark.serializer.{JavaSerializer, KryoSerializer, Serializer}
import org.apache.spark.sql.graft.LeanConfiguration
import org.apache.spark.util.SerializableConfiguration

/** The conf every TsTable scan broadcasts reads back whole on the
  * receiving side. Local mode hands executors the driver's broadcast
  * object by reference, so no read spec ever deserializes it: this spec
  * runs the wire format through both of Spark's serializers. */
class LeanConfigurationSpec extends SparkSpec {

  private def sessionConf: Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("graft.lean.spec.key", "v=1, ü")
    c.set("graft.lean.spec.empty", "")
    c
  }

  private def entries(c: Configuration): Map[String, String] =
    c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  private def roundTrip(ser: Serializer, c: Configuration): Configuration = {
    val inst = ser.newInstance()
    inst.deserialize[SerializableConfiguration](
      inst.serialize(new SerializableConfiguration(c))(
        ClassTag(classOf[SerializableConfiguration]))).value
  }

  private def serializers: Seq[Serializer] = {
    val conf = spark.sparkContext.getConf
    Seq(new JavaSerializer(conf), new KryoSerializer(conf))
  }

  test("every property survives a Java and a Kryo round trip") {
    val src = sessionConf
    val want = entries(src)
    assert(want.size > 100, s"a session conf holds hundreds of keys: ${want.size}")
    serializers.foreach { ser =>
      val back = roundTrip(ser, new LeanConfiguration(src))
      assert(back.getClass == classOf[Configuration], ser)
      assert(entries(back) == want, ser)
      assert(back.get("graft.lean.spec.key") == "v=1, ü", ser)
      assert(back.get("graft.lean.spec.empty") == "", ser)
      // readFields sets each key through `set`, which records this source
      assert(back.getPropertySources("graft.lean.spec.key").toSeq ==
        Seq("programmatically"), ser)
    }
  }

  test("a deprecated key resolves to the same value after the round trip") {
    val src = sessionConf
    src.set("topology.script.file.name", "/opt/topology.sh")
    serializers.foreach { ser =>
      val back = roundTrip(ser, new LeanConfiguration(src))
      assert(back.get("topology.script.file.name") == "/opt/topology.sh", ser)
      assert(back.get("net.topology.script.file.name") == "/opt/topology.sh", ser)
    }
  }

  test("the lean encoding is smaller than Hadoop's own, provenance kept " +
      "on the driver") {
    val src = sessionConf
    val lean = new LeanConfiguration(src)
    val inst = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    def bytes(c: Configuration): Int =
      inst.serialize(new SerializableConfiguration(c)).remaining()
    val hadoopBytes = bytes(new Configuration(src))
    val leanBytes = bytes(lean)
    info(s"serialized session conf: Hadoop $hadoopBytes B, lean $leanBytes B")
    assert(leanBytes < hadoopBytes)
    // the driver-side copy still answers where a property came from
    val key = src.iterator.asScala.map(_.getKey)
      .find(k => src.getPropertySources(k) != null).get
    assert(lean.getPropertySources(key).toSeq == src.getPropertySources(key).toSeq)
  }
}
