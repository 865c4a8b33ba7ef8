package graft.ts

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{DoubleType, StructField, StructType, TimestampType}

/** The descriptor install, raced: two handles change one table's descriptor
  * at once. One update may still be lost (ROADMAP direction 2), but each
  * writer swaps in its own temp file, so both calls return, the table
  * reopens with a whole descriptor holding one of the two changes, and no
  * temp file is left behind. */
class DescriptorRaceSpec extends graft.SparkSpec {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("value", DoubleType)))

  private def residue(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.contains("_ts_schema.json.tmp"))

  test("two handles adding a CHECK at once: both return, the table reopens " +
      "with one of them, no temp residue") {
    for (round <- 1 to 8) {
      val dir = java.nio.file.Files.createTempDirectory("descriptor_race").toString
      TsTable.create(spark, dir, schema)
      val handles = Seq("a", "b").map(n => n -> TsTable.open(spark, dir))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = handles.map { case (name, t) =>
        new Thread(() => {
          barrier.await()
          try t.addCheck(name, "value > 0", validateExisting = false)
          catch { case e: Throwable => errors.add(e) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errors.isEmpty, s"round $round: ${errors.toArray.mkString("; ")}")
      val names = TsTable.open(spark, dir).checks.map(_._1)
      assert(names == Seq("a") || names == Seq("b"), s"round $round: $names")
      assert(residue(dir).isEmpty, s"round $round: temp residue ${residue(dir)}")
    }
  }

  test("a descriptor written with a .crc (older tables) is replaced whole: " +
      "its checksums go with it") {
    val dir = java.nio.file.Files.createTempDirectory("descriptor_crc").toString
    val t = TsTable.create(spark, dir, schema)
    val target = new Path(dir, "_ts_schema.json")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val text = {
      val in = fs.open(target)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val out = fs.create(target, true) // checksummed: writes ._ts_schema.json.crc
    try out.write(text.getBytes("UTF-8")) finally out.close()
    assert(new java.io.File(dir, "._ts_schema.json.crc").exists)
    t.addCheck("pos", "value > 0", validateExisting = false)
    assert(!new java.io.File(dir, "._ts_schema.json.crc").exists)
    assert(TsTable.open(spark, dir).checks == Seq("pos" -> "value > 0"))
  }
}
