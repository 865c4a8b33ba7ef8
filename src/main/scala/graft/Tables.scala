package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md).
  * One parquet file per table under `sfDir`. */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs the fixture parquet files require. Deliberately session-
    * wide and NOT restored: `ParquetFileFormat` re-reads both keys from the
    * session conf when it builds per-file readers at EXECUTION time (it
    * overwrites any per-read `.option(...)` into the hadoopConf), so a
    * save/restore around the eager `spark.read` would make later actions on
    * the returned (lazy) DataFrame throw. Setting both keys together on
    * every load keeps schema behavior order-independent across loaders.
    *
    *  - inferTimestampNTZ=false: fixture timestamps are parquet no-tz
    *    (isAdjustedToUTC=false — currently TIMESTAMP(MICROS), earlier
    *    generations used MILLIS); Spark 4 would infer TIMESTAMP_NTZ, which
    *    breaks unix_micros and cross-column comparisons. Session TZ is
    *    pinned UTC, so reading them as instants is lossless and matches
    *    DuckDB.
    *  - nanosAsLong=true: legacy fixture generations stored events.ts as
    *    TIMESTAMP(NANOS), which Spark rejects outright
    *    (PARQUET_TYPE_ILLEGAL) unless surfaced as int64 ns; harmless for
    *    the current µs fixtures, kept so both generations load (the
    *    `events` loader dispatches on the observed type — see FIXTURES.md).
    */
  def init(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // INT64 micros, not the INT96 default: INT96 timestamps cannot carry
    // parquet filter pushdown (ParquetFilters rejects them), so every
    // engine-written timestamp column would lose row-group stats skipping
    // (see TsTable.appendValidated).
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  }

  /** Per-process memo of each fixture file's parquet SCHEMA — the catalog
    * metadata a metastore would hold. Every `spark.read.parquet` without an
    * explicit schema pays a footer-inference pass per call (observed as one
    * job per Tables.* load in the r22 JobTrace), and the query registry
    * re-opens these immutable fixture files hundreds of times per sweep.
    * METADATA ONLY: no rows, results, or intermediates are memoized — the
    * data path is re-read from parquet on every query invocation — and the
    * memo dies with the process. Keyed on (path, total length, newest
    * mtime) of the files under the path, so a file rewritten in place
    * (TablesSpec) is re-inferred instead of served a stale schema; the key
    * costs one local listing per load, no Spark job. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]

  private def readCached(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    var (len, mtime) = (0L, 0L)
    while (files.hasNext) {
      val f = files.next()
      len += f.getLen
      mtime = math.max(mtime, f.getModificationTime)
    }
    val sch = schemaCache.computeIfAbsent((path, len, mtime),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else {
      init(spark)
      readCached(spark, s"$sfDir/$name.parquet")
    }

  /** events.ts is format-adaptive: fixture generations have alternated
    * between parquet TIMESTAMP(NANOS) — which `init`'s nanosAsLong reads as
    * int64 ns, converted here with integer `div 1000` (floor, matching
    * DuckDB's epoch_us; `/` would go through double and lose µs at
    * 1.7e18 ns) — and plain TIMESTAMP(MICROS), which Spark reads as
    * TimestampType directly and must pass through untouched (applying the
    * div-1000 to a TimestampType throws DATATYPE_MISMATCH). Dispatch on the
    * observed column type, not the fixture generation. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    init(spark)
    val raw = readCached(spark, s"$sfDir/events.parquet")
    val tsIsLong = raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val withTs =
      if (tsIsLong) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** SQL entry point (SURVEY.md §3.3): register every fixture table as a
    * temp view so the entire query surface is reachable through
    * `spark.sql(...)`. Planning is identical to the DataFrame path —
    * Catalyst sees the same logical plans — this is pure name registration
    * (SqlSurfaceSpec asserts DataFrame/SQL result equality). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
