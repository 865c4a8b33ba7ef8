package org.apache.spark.sql.graft

import graft.ts.TsTable

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink

/** Native streaming SINK over a graft-ts store — the write-side twin of
  * [[GraftTsStreamSource]], so a table can be both tailed and fed through
  * the engine's own connector:
  *
  * {{{
  *   df.writeStream.format("graft-ts")
  *     .option("checkpointLocation", ckpt)
  *     .option("filesPerDay", 4)        // optional, default 1
  *     .start(storePath)
  * }}}
  *
  * Each micro-batch lands through the facade's ordered-append path (day
  * shuffle + within-partition ts sort + monotonicity guard + span-stats
  * commit), identical to `TsTable.append` — a time-regressing batch fails
  * the QUERY. This is the one streaming write path: `TsStream.appendSink`
  * is this sink with the table's path and ts column filled in, and batch
  * writes through the connector land through the same `TsTable.append`.
  *
  * Exactly-once: every commit this sink produces is stamped with a sink
  * identity (derived from the query's checkpoint location) and the
  * micro-batch id in the manifest header. On restart, Structured
  * Streaming re-offers the last un-checkpointed batch; `addBatch` sees
  * its id at-or-below the newest committed stamp and SKIPS it — no
  * double-append. The residual window is a crash between the data-file
  * moves and the manifest install (same window every facade append has):
  * there the replayed batch double-appends, because the live listing —
  * by design authoritative — already absorbed the orphan files into the
  * next commit. Two DIFFERENT queries (distinct checkpoints) interleave
  * safely: their stamps are distinct, dedup never crosses identities.
  *
  * Output mode: append-only (an ordered log has no update/complete
  * semantics). `partitionBy` is refused — placement is derived from ts. */
final class GraftTsStreamSink(sqlContext: SQLContext, path: String,
                              tsCol: String, filesPerDay: Int,
                              sinkId: String,
                              lateData: String = "fail") extends Sink {

  private val spark = sqlContext.sparkSession
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  // newest batch id THIS sink identity committed; lazily recovered from
  // manifest headers once per (re)start, then maintained in memory
  private var lastCommitted: Option[Long] = None
  private var recovered = false

  override def addBatch(batchId: Long, data: DataFrame): Unit = synchronized {
    val table = TsTable.open(spark, path, tsCol)
    if (!recovered) {
      lastCommitted = table.lastSinkBatch(sinkId)
      recovered = true
    }
    if (lastCommitted.exists(batchId <= _)) return // checkpoint replay
    // materialize the streaming batch as a normal DataFrame (the
    // foreachBatch mechanism, inverted from the source's wrap); persisted
    // because both landing paths aggregate it before writing it
    val batch = spark.internalCreateDataFrame(
      data.queryExecution.toRdd, data.schema, isStreaming = false).persist()
    try {
      val stamp = Map("streamSink" -> sinkId, "streamBatch" -> batchId.toString)
      // option("lateData", "backfill"): a batch reaching behind the stored
      // max lands through the out-of-order insert verb (ONE stamped
      // "backfill" commit — changesBetween still serves its rows) instead
      // of failing the query. Default keeps append's ordered contract.
      val landLate = lateData == "backfill" && {
        val mn = batch.agg(
          org.apache.spark.sql.functions.min(
            org.apache.spark.sql.functions.col(tsCol))).head
        !mn.isNullAt(0) &&
          table.maxDt.exists(mx => mn.getTimestamp(0).before(mx))
      }
      if (landLate) table.backfillWithMeta(batch, filesPerDay, stamp)
      else table.appendWithMeta(batch, filesPerDay, strict = false, stamp)
      spark.catalog.refreshByPath(path)
      lastCommitted = Some(batchId)
    } finally batch.unpersist()
  }

  override def toString: String = s"GraftTsStreamSink[$path]"
}
