package perfbench

import graft.ts.{TsTable, TsWriteOptions}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's benchmark: random 1-hour range reads of secondly ticks
  * written by ordered appends. The table is built from whole-day appends
  * followed by an hourly-append tail, with a Bloom filter on `symbol`.
  * The loop is a read mix: in every block of ten reads, in seeded order,
  * eight `readRange` of a random hour, one `lookupEq` on one symbol and one
  * `readRange` pinned to an earlier version, so every run has the same
  * mix. Every read is answered with an aggregate `collect` whose count and
  * `qty` sum are checked against the generator's closed form. */
final class TsRead(spark: SparkSession, seed: Long) extends Workload {
  private val gen = new Ticks(seed)
  private val DayHours = 24
  private val TailHours = 2
  private val end = (DayHours + TailHours) * 3600L
  private val opts = TsWriteOptions(bloomCols = Seq("symbol"), fileSpan = "hour")
  private val rng = new java.util.SplittableRandom(seed * 7919L + 17)

  private var table: TsTable = _
  /** (version, seconds covered) after each append of the measured table. */
  private var versions = Vector.empty[(Long, Long)]
  private var block = List.empty[String]
  private val perSymbol: Array[(Long, Long)] =
    Array.tabulate(Ticks.Symbols)(s => gen.agg(0, end, end, s))
  var rows = 0L

  /** One bulk append of `dayHours` hours, then `tailHours` hourly appends. */
  private def buildTable(path: String, dayHours: Int, tailHours: Int): (TsTable, Vector[(Long, Long)]) = {
    val t = TsTable.create(spark, path, Ticks.schema, "ts", opts)
    t.append(gen.frame(spark, 0, dayHours * 3600L))
    var vs = Vector(t.currentVersion.get -> dayHours * 3600L)
    for (h <- dayHours until dayHours + tailHours) {
      t.append(gen.frame(spark, h * 3600L, (h + 1) * 3600L))
      vs :+= (t.currentVersion.get -> (h + 1) * 3600L)
    }
    (t, vs)
  }

  private def countSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("qty")), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def build(dir: String): Unit = {
    val (t, vs) = buildTable(dir, DayHours, TailHours)
    table = t; versions = vs
  }

  def warm(): Unit = {
    val a = gen.ts(3600); val b = gen.ts(7200)
    countSum(table.readRange(a, b))
    countSum(table.lookupEq("symbol", Seq(gen.symbolName(0))))
    countSum(table.readRange(a, b, versions.head._1))
  }

  /** Eight blocks of ten reads. */
  override def warmUnits: Int = 80

  def inputHash: String = gen.hash(end)

  def step(run: Run): Unit = run.unit {
    if (block.isEmpty) {
      val b = Array.fill(8)("read_range") ++ Array("lookup", "as_of")
      for (i <- b.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = b(i); b(i) = b(j); b(j) = t
      }
      block = b.toList
    }
    val kind = block.head
    block = block.tail
    if (kind == "read_range") {
      val a = rng.nextLong(end - 3600)
      read(run, "read_range", a, None)
    } else if (kind == "lookup") {
      val s = rng.nextInt(Ticks.Symbols)
      val want = perSymbol(s)
      run.op("lookup") {
        val df = run.span("TsTable.lookupEq", "ts")(table.lookupEq("symbol", Seq(gen.symbolName(s))))
        run.span("collect", "action")(countSum(df))
      }(_ == want).foreach { r => rows += r._1; run.note(run.lastOpId, "rows", r._1) }
    } else {
      // an earlier version: any but the newest
      val (v, covered) = versions(rng.nextInt(versions.size - 1))
      read(run, "as_of", rng.nextLong(covered - 3600), Some(v))
    }
  }

  private def read(run: Run, kind: String, a: Long, asOf: Option[Long]): Unit = {
    val want = gen.agg(a, a + 3600, end)
    var df: DataFrame = null
    val got = run.op(kind) {
      df = run.span(if (asOf.isEmpty) "TsTable.readRange" else "TsTable.readRange(asOf)", "ts") {
        asOf.fold(table.readRange(gen.ts(a), gen.ts(a + 3600)))(
          v => table.readRange(gen.ts(a), gen.ts(a + 3600), v))
      }
      run.span("collect", "action")(countSum(df))
    }(_ == want)
    got.foreach { r =>
      rows += r._1
      if (run.tracing) {
        val id = run.lastOpId
        run.note(id, "rows", r._1)
        run.note(id, "files_read", df.inputFiles.length)
      }
    }
  }

  def verify(run: Run): Unit = ()

  def endState: Map[String, Double] = TsState.of(spark, Seq(table.path), table.path, end * Ticks.PerSec)
}
