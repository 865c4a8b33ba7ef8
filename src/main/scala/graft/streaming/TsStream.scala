package graft.streaming

import graft.ts.TsTable
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

/** One keyed observation for [[TsStream.deltasPerKey]]. */
case class KeyedPoint(key: Long, ts: java.sql.Timestamp, value: Double)

/** [[TsStream.deltasPerKey]] output: the point plus its delta/gap to the
  * previous point of the same key (None for a key's first point). */
case class PointDelta(key: Long, ts: java.sql.Timestamp, value: Double,
                      delta: Option[Double], gap_us: Option[Long])

/** Per-key carry-forward state: the last seen (ts in epoch µs, value). */
case class LastPoint(lastTsUs: Long, lastValue: Double)

/** [[TsStream.ewmaPerKey]] output: the point plus its running EWMA. */
case class PointEwma(key: Long, ts: java.sql.Timestamp, value: Double,
                     ewma: Double)

/** [[TsStream.cusumPerKey]] output: the point plus its running CUSUM and
  * drift alarm. */
case class PointCusum(key: Long, ts: java.sql.Timestamp, value: Double,
                      cusum: Double, is_drift: Boolean)

/** Per-key CUSUM state: the running statistic in exact micro-units — the
  * recurrence needs nothing else. */
case class CusumState(sI: Long)

/** [[TsStream.asOfBackwardStream]] output: the left point plus its matched
  * right (ts, value), or None when no right row at-or-before exists. */
case class PointHampel(key: Long, ts: java.sql.Timestamp, value: Double,
                       med: Double, mad: Double, is_outlier: Boolean)

/** Trailing-window values for [[TsStream.hampelPerKey]] (≤ window−1
  * doubles) plus the key's last event time for idle eviction. */
case class HampelState(vals: Seq[Double], lastTsUs: Long)

/** [[TsStream.drawdownPerKey]] output: the point plus its running equity
  * (cumulative value), running peak, and drawdown from peak. */
case class PointDrawdown(key: Long, ts: java.sql.Timestamp, value: Double,
                         equity: Double, peak: Double, drawdown: Double)

/** Per-key drawdown state: running (equity, peak) in exact 1e-4 units —
  * the batch operator's DECIMAL(18,4) quantum — plus the key's last event
  * time for idle eviction. */
case class DrawdownState(equityE4: Long, peakE4: Long, lastTsUs: Long)

case class PointAsOf(key: Long, ts: java.sql.Timestamp, value: Double,
                     r_ts: Option[java.sql.Timestamp], r_value: Option[Double])

/** Tagged union row for the GENERIC stream-stream as-of engine
  * ([[TsStream.asOfStreamOf]]): side 0 = right (payload in `r`), side 1 =
  * left (payload in `l`). `key` is any encodable type — a Long, a
  * (symbol, venue) tuple, a case class — and the payloads ride whole, so
  * a multi-column quote needs no flattening. */
case class AsOfEvt[K, L, R](key: K, ts: java.sql.Timestamp, side: Int,
                            l: Option[L], r: Option[R])

/** Per-key generic as-of state: right rows as an ascending (event-time µs,
  * payload) run, left rows awaiting finality. */
case class AsOfStateG[L, R](rights: Seq[(Long, R)], pending: Seq[(Long, L)])

/** Generic stream-stream as-of output: the left row plus its matched right
  * payload (None = finalized unmatched — the right row carries its own
  * timestamp, so no separate matched-ts column is needed). */
case class AsOfPair[L, R](left: L, right: Option[R])

/** Per-key EWMA state: the adjusted-form numerator/denominator plus the
  * last event time (for the idle timeout). */
case class EwmaState(num: Double, den: Double, lastTsUs: Long)

/** One detected funnel completion: the user and every stage's event time
  * (epoch µs) in stage order. Emitted exactly once per user. */
case class FunnelHit(user: Long, stage_us: Seq[Long])

/** Per-user funnel-detection state: epoch-µs times of the completed stage
  * PREFIX, events buffered above the fold horizon, the horizon itself
  * (event times at or below it are already folded — later arrivals below
  * it are late and dropped), and the one-shot emission latch. */
case class FunnelState(stageUs: Seq[Long], buf: Seq[(Long, String)],
                       foldedToUs: Long, done: Boolean)

/** One sessionized event: its user, id, event time, and the 1-based
  * session sequence number within the user. */
case class SessionAssign(user: Long, event_id: Long, ts_us: Long,
                         sess_seq: Long)

/** Per-user sessionization state: the last folded event time, the running
  * session counter, events buffered above the fold horizon, and the
  * horizon itself. */
case class SessionizeState(lastUs: Long, seq: Long,
                           buf: Seq[(Long, Long)], foldedToUs: Long)

/** One CLOSED SCD-2 run ([[TsStream.scd2Stream]]): its user, 1-based run
  * id, the constant state value, the [valid_from, valid_to) interval in
  * epoch µs, and the event count. Emitted exactly once, final. */
case class ScdRun(user: Long, run_id: Long, event_type: String,
                  valid_from_us: Long, valid_to_us: Long, n_events: Long)

/** Per-user SCD-2 state: the OPEN run (state value, start µs, event count,
  * run id — 0 = no run yet), events buffered above the fold horizon as
  * (event µs, event id, state value), and the horizon itself. */
case class ScdState(curType: String, validFromUs: Long, nEvents: Long,
                    runId: Long, buf: Seq[(Long, Long, String)],
                    foldedToUs: Long)

/** Structured-Streaming face of the engine (SURVEY.md §2 B10).
  *
  * The reference is batch-only, but its ordered-append contract IS a stream
  * sink contract: each microbatch must start at-or-after the stored max
  * timestamp. `appendSink` enforces exactly that — each microbatch lands
  * through the graft-ts sink's `TsTable.append`, so a time-regressing
  * batch fails the streaming query the same way the reference's `append`
  * raises `ValueError`.
  *
  * Everything here composes builtin Structured Streaming operators —
  * incremental hash aggregation with watermark-based state eviction — so
  * the same code runs on a real cluster with executors holding only
  * watermark-bounded state. Batch/stream parity (same plan shapes, same
  * results) is proven in TsStreamSpec by replaying the events fixture
  * through a MemoryStream in chunks and comparing against the batch
  * equivalents in TimeSeriesPack.
  */
// Serializable because the state functions below call the object's private
// helpers, which compiles to a captured `this` reference — the module
// instance ships with the closure (it is stateless; deserialization
// readResolves back to MODULE$).
object TsStream extends Serializable {

  /** Full-µs event time of a Timestamp (getTime alone is ms-truncated;
    * the engine's resolution is µs — SURVEY §1.4.4). Shared by every
    * custom-state operator below. */
  private[streaming] def usOf(t: java.sql.Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L

  /** Inverse of [[usOf]], floorDiv/floorMod so pre-epoch instants keep
    * their sub-second digits. */
  private def tsFromUs(u: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(u, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(u, 1000000L) * 1000L).toInt)
    t
  }

  /** Linear merge of two ascending (ts, value) runs into an INDEXED seq.
    * Two reasons this exists instead of `(a ++ b).sortBy(_._1)`: the merge
    * is O(n+m) per microbatch instead of a full re-sort, and — the sharper
    * one — concatenating onto the initial `Nil` builds a `List`, whose
    * positional `apply` is O(n), silently turning the binary searches
    * below into linear scans. Every rights run the state carries flows
    * through here, so indexing stays O(1). */
  private def mergeSorted[A](a: Seq[(Long, A)],
                             b: Seq[(Long, A)]): IndexedSeq[(Long, A)] = {
    val out = new scala.collection.mutable.ArrayBuffer[(Long, A)](a.length + b.length)
    val ai = a.iterator.buffered
    val bi = b.iterator.buffered
    while (ai.hasNext && bi.hasNext)
      out += (if (ai.head._1 <= bi.head._1) ai.next() else bi.next())
    ai.foreach(out += _)
    bi.foreach(out += _)
    out.toIndexedSeq
  }

  /** Largest right at-or-before `t` in an ascending (ts, payload) run. */
  private def lastAtOrBefore[A](rights: Seq[(Long, A)], t: Long): Option[(Long, A)] = {
    var lo = 0; var hi = rights.length - 1; var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (rights(mid)._1 <= t) { best = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (best < 0) None else Some(rights(best))
  }

  /** Smallest right at-or-after `t` in an ascending (ts, payload) run. */
  private def firstAtOrAfter[A](rights: Seq[(Long, A)], t: Long): Option[(Long, A)] = {
    var lo = 0; var hi = rights.length - 1; var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (rights(mid)._1 >= t) { best = mid; hi = mid - 1 } else lo = mid + 1
    }
    if (best < 0) None else Some(rights(best))
  }

  /** Streaming source over a TsTable/Parquet directory. Schema must be
    * declared (streaming sources don't infer). */
  def source(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Streaming per-window LEADERBOARD — top-k keys by event count per
    * tumbling window, the live twin of the batch
    * `q_window_topn_per_group` / `q_topk` pattern. This is the engine's
    * CHAINED-stateful-operator demonstration (Spark 4 multiple stateful
    * operators): stage 1 is an incremental (window, key) count whose state
    * is one long per live (window, key); stage 2 re-aggregates the
    * FINALIZED window counts into the k-bounded [[TopKByScore]] heap — the
    * same imperative aggregate the batch top-k keys use, its buffer
    * serialized into the state store (k·16 B per live window). Both stages
    * evict by the same watermark; append mode emits a window's leaderboard
    * exactly once, when the watermark closes it.
    *
    * 100 TB posture: stage 1's shuffle is the (window, key) hash exchange
    * with map-side partial counts (bounded by live keys × live windows);
    * stage 2 exchanges one k-heap per window. Keys ride as longs
    * (`keyCol` is cast) — the fixture's user_id, a symbol id, a shard id.
    * Ties break toward the smaller key (TopKBuffer's deterministic
    * ordering), identically in batch and stream. */
  def topKeysPerWindow(df: DataFrame, tsCol: String, keyCol: String,
                       watermark: String = "1 hour",
                       width: String = "1 hour", k: Int = 5): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width), col(keyCol).cast("long").as("key"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("window"))
      .agg(org.apache.spark.sql.graft.TopKAggExprs
        .topKByScore(col("n").cast("double"), col("key"), k).as("top"))
      .select(col("window.start").as("w_start"), posexplode(col("top")))
      .select(col("w_start"), (col("pos") + 1).cast("int").as("rank"),
        col("col.vec_id").as("key"), col("col.sim").cast("long").as("n"))

  /** Stream-stream TIME-INTERVAL self-join — the live twin of
    * `TimeSeriesPack.rangeJoin`, and the one member of the streaming join
    * family that needs NO custom state: Spark's builtin stream-stream
    * join machinery derives each side's state-retention bound from the
    * watermark plus the time-range condition (left rows older than
    * watermark − horizon can never match a future right row and are
    * evicted; symmetrically for rights), so executor state is
    * horizon-bounded per side — the canonical impression→click
    * attribution shape.
    *
    * Semantics mirror the batch key exactly: pairs of SAME-key events
    * with the follower strictly after the leader and within `horizon`
    * (strict lower bound, closed upper). In-order replay emits exactly
    * the batch result; late rows beyond the watermark drop, as in every
    * streaming op here. The only exchange is the key-hash shuffle both
    * sides already need — the join keys on user equality, the range is a
    * post-join-state predicate.
    *
    * `df` needs (event_id, ts, user_id); it may BE a streaming frame used
    * twice (streaming self-joins re-read the source per side). */
  def rangeJoinStream(df: DataFrame, watermark: String = "1 hour",
                      horizon: String = "1 hour"): DataFrame = {
    val a = df.select(col("event_id").as("a_id"), col("user_id").as("a_user"),
      col("ts").as("a_ts")).withWatermark("a_ts", watermark)
    val b = df.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
      col("ts").as("b_ts")).withWatermark("b_ts", watermark)
    a.join(b, expr(
        s"a_user = b_user AND b_ts > a_ts AND b_ts <= a_ts + interval $horizon"))
      .select(col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
  }

  /** Tumbling (slide == width) or sliding event-time window aggregation with
    * watermark-based late-data drop and state eviction. */
  def windowedCounts(df: DataFrame, tsCol: String, width: String,
                     slide: Option[String] = None,
                     watermark: String = "1 hour"): DataFrame = {
    val win = slide.fold(window(col(tsCol), width))(s => window(col(tsCol), width, s))
    df.withWatermark(tsCol, watermark)
      .groupBy(win)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("n"), col("sum_value"))
  }

  /** Streaming OHLC resampling — the stream face of
    * TimeSeriesPack.resampleOhlc. The batch form pins open/close with
    * row_number windows, which streaming cannot run (analytic windows need
    * the whole partition); here open/close are `min_by`/`max_by` over the
    * (ts, tieCol) struct — ORDER-INSENSITIVE aggregates with constant
    * per-window state, so they fold incrementally microbatch by microbatch
    * and merge map-side like any min/max. Same tiebreak as the batch form
    * ⇒ identical results (parity proven in TsStreamSpec on chunked
    * replay). */
  def ohlc(df: DataFrame, tsCol: String, keyCol: String, valueCol: String,
           tieCol: String, width: String, watermark: String = "1 hour"): DataFrame = {
    val order = struct(col(tsCol), col(tieCol))
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width), col(keyCol))
      .agg(min_by(col(valueCol), order).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), order).as("close"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col(keyCol),
        col("open"), col("high"), col("low"), col("close"), col("n"))
  }

  /** Streaming exact dedup (B9 × B10): drop rows whose `keyCols` were
    * already seen, keeping only watermark-bounded dedup state — the
    * streaming face of LlmPack.dedupExact. `dropDuplicatesWithinWatermark`
    * evicts keys once the event-time watermark passes them, so executor
    * state stays bounded by the watermark horizon instead of growing with
    * the corpus (the unbounded-state `dropDuplicates` is exactly what a
    * 100 TB stream cannot afford). */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, watermark: String,
                           keyCols: String*): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)

  /** Streaming per-key deltas — the stream face of
    * TimeSeriesPack.windowDelta, and the engine's custom-state showcase
    * (`flatMapGroupsWithState`): `lag()` does not exist in streaming, so
    * the previous point of each key is CARRIED AS STATE — one tiny
    * (ts, value) record per live key, evicted through an event-time
    * timeout once a key has been idle past `idleHorizonMs` beyond the
    * watermark, so executor state is bounded by the live-key set, not the
    * stream's history.
    *
    * Ordering semantics: rows are processed in event-time order WITHIN a
    * microbatch (sorted here; Spark hands the group iterator over in
    * arrival order), and across batches in arrival order — the contract of
    * any streaming delta. Late rows beyond the watermark are dropped
    * before the state function runs. */
  def deltasPerKey(points: Dataset[KeyedPoint], watermark: String = "1 hour",
                   idleHorizonMs: Long = 3600000L): Dataset[PointDelta] = {
    import points.sparkSession.implicits._
    points.withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (key: Long, it: Iterator[KeyedPoint], state: GroupState[LastPoint]) =>
          if (state.hasTimedOut) { // idle key: drop the carried point
            state.remove(); Iterator.empty
          } else {
            val pts = it.toArray.sortBy(p => usOf(p.ts))
            var last = state.getOption
            val out = pts.map { p =>
              val d = last.map(s => p.value - s.lastValue)
              val g = last.map(s => usOf(p.ts) - s.lastTsUs)
              last = Some(LastPoint(usOf(p.ts), p.value))
              PointDelta(key, p.ts, p.value, d, g)
            }
            last.foreach { s =>
              state.update(s)
              // evict once the watermark passes the key's last point by
              // the idle horizon (timeout clock is in ms)
              state.setTimeoutTimestamp(s.lastTsUs / 1000L + idleHorizonMs)
            }
            out.iterator
          })
  }

  /** Streaming CUSUM — the O(1)-state live twin of
    * `StatsPack.windowCusum` (Page's drift detector): the recurrence
    * s_t = max(0, s_{t−1} + d_t) is already incremental, so unlike the
    * batch form (which needs the drawup identity to become
    * window-expressible) the stream folds it directly with ONE long of
    * state per key — deviations quantize to the same BIGINT micro-units
    * as batch (identical round-6dp + decimal-cast step), so on an ordered
    * replay stream and batch agree EXACTLY, alarms included
    * (TsStreamSpec). Ordering/eviction contract mirrors [[deltasPerKey]]:
    * event-time order within a microbatch, arrival order across batches,
    * idle keys evicted past the watermark horizon. */
  def cusumPerKey(points: Dataset[KeyedPoint], mu0: Double, k: Double,
                  h: Double, watermark: String = "1 hour",
                  idleHorizonMs: Long = 3600000L): Dataset[PointCusum] = {
    import points.sparkSession.implicits._
    val hI = math.round(h * 1e6)
    points.withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (key: Long, it: Iterator[KeyedPoint], state: GroupState[CusumState]) =>
          if (state.hasTimedOut) {
            state.remove(); Iterator.empty
          } else {
            val pts = it.toArray.sortBy(p => usOf(p.ts))
            var s = state.getOption.map(_.sI).getOrElse(0L)
            // one pre-summed reference level: the batch operator subtracts
            // the (mu0 + k) literal in ONE IEEE op, and two separate
            // subtractions here could land an ulp away from it — enough
            // for HALF_UP to pick the adjacent micro-unit near a boundary
            val ref = mu0 + k
            val out = pts.map { p =>
              // same micro-unit quantization as the batch operator
              val dI = (BigDecimal(p.value - ref)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000)
                .toLongExact
              s = math.max(0L, s + dI)
              PointCusum(key, p.ts, p.value, s.toDouble / 1e6, s > hI)
            }
            if (pts.nonEmpty) {
              state.update(CusumState(s))
              state.setTimeoutTimestamp(usOf(pts.last.ts) / 1000L + idleHorizonMs)
            }
            out.iterator
          })
  }

  /** Streaming drawdown — the live risk gate, the O(1)-state twin of the
    * registered batch key `TimeSeriesPack.windowDrawdown`
    * (q_window_drawdown): per key, the running equity (cumulative
    * `value − benchmark`, the per-point P&L increment), the running peak,
    * and the drawdown from peak, emitted per point as data arrives
    * (kill-switches, exposure monitors, live PnL dashboards).
    *
    * Exactness: arithmetic runs in exact 1e-4 integer units — the SAME
    * quantum as the batch operator's DECIMAL(18,4) chain — so an ordered
    * replay reproduces the batch equity/peak/drawdown curve EXACTLY, and
    * each key's running max drawdown equals the batch key's
    * `max_drawdown` (TsStreamSpec, chunk-boundary invariant included).
    * State per key: two longs + one timestamp — O(1), not O(stream).
    * Ordering/eviction contract mirrors [[deltasPerKey]]: event-time
    * order within a microbatch, arrival order across batches, idle keys
    * evicted past the watermark horizon. */
  def drawdownPerKey(points: Dataset[KeyedPoint], benchmark: Double = 0.0,
                     watermark: String = "1 hour",
                     idleHorizonMs: Long = 3600000L): Dataset[PointDrawdown] = {
    import points.sparkSession.implicits._
    points.withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (key: Long, it: Iterator[KeyedPoint], state: GroupState[DrawdownState]) =>
          if (state.hasTimedOut) {
            state.remove(); Iterator.empty
          } else {
            val pts = it.toArray.sortBy(p => usOf(p.ts))
            var eq = state.getOption.map(_.equityE4).getOrElse(0L)
            var pk = state.getOption.map(_.peakE4).getOrElse(Long.MinValue)
            val out = pts.map { p =>
              // ONE IEEE subtraction then the batch operator's
              // DECIMAL(18,4) cast, as an exact long — the increment is
              // the point's P&L against the declared benchmark
              val vI = (BigDecimal(p.value - benchmark)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000)
                .toLongExact
              eq += vI
              if (eq > pk) pk = eq
              PointDrawdown(key, p.ts, p.value,
                eq.toDouble / 1e4, pk.toDouble / 1e4, (pk - eq).toDouble / 1e4)
            }
            if (pts.nonEmpty) {
              state.update(DrawdownState(eq, pk, usOf(pts.last.ts)))
              state.setTimeoutTimestamp(usOf(pts.last.ts) / 1000L + idleHorizonMs)
            }
            out.iterator
          })
  }

  /** Streaming Hampel filter — the live robust-outlier gate, the
    * O(window)-state twin of the registered batch key
    * `StatsPack.windowHampel` (q_window_hampel): per key, the
    * trailing-`window` exact median, the
    * window MAD, and the |x − med| > nSigmas·1.4826·MAD flag — the
    * data-cleaning filter that (unlike an EWMA z-score) is not dragged by
    * the very outliers it gates, applied point-by-point as data arrives
    * (sensor despiking, live feed sanitation).
    *
    * Exactness: the window median uses the SAME two-middle-values
    * interpolation as the batch `windowMedian` (and the same 6dp rounding
    * on emitted med/mad), so on an ordered replay the stream's `med`
    * equals the batch key's `med5` EXACTLY at window=5 (TsStreamSpec);
    * the outlier comparison runs on unrounded doubles, the anomalyMad
    * rule. State per key: the last window−1 values + one timestamp —
    * O(window), not O(stream). Ordering/eviction contract mirrors
    * [[deltasPerKey]]: event-time order within a microbatch, arrival
    * order across batches, idle keys evicted past the watermark horizon. */
  def hampelPerKey(points: Dataset[KeyedPoint], window: Int = 5,
                   nSigmas: Double = 3.0, watermark: String = "1 hour",
                   idleHorizonMs: Long = 3600000L): Dataset[PointHampel] = {
    require(window >= 1, "window must be >= 1")
    import points.sparkSession.implicits._
    val kScale = nSigmas * 1.4826
    def med(sorted: Array[Double]): Double = {
      val n = sorted.length
      if (n % 2 == 1) sorted(n / 2)
      else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    points.withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (key: Long, it: Iterator[KeyedPoint], state: GroupState[HampelState]) =>
          if (state.hasTimedOut) {
            state.remove(); Iterator.empty
          } else {
            val pts = it.toArray.sortBy(p => usOf(p.ts))
            var vals = state.getOption.map(_.vals).getOrElse(Seq.empty)
            val out = pts.map { p =>
              val win = (vals :+ p.value).takeRight(window)
              val m = med(win.toArray.sorted)
              val md = med(win.map(v => math.abs(v - m)).toArray.sorted)
              vals = (vals :+ p.value).takeRight(math.max(window - 1, 0))
              PointHampel(key, p.ts, p.value, r6(m), r6(md),
                math.abs(p.value - m) > kScale * md)
            }
            if (pts.nonEmpty) {
              state.update(HampelState(vals, usOf(pts.last.ts)))
              state.setTimeoutTimestamp(usOf(pts.last.ts) / 1000L + idleHorizonMs)
            }
            out.iterator
          })
  }

  /** Streaming k-stage funnel detection — the CEP (complex-event-
    * processing) member of the streaming family and the live twin of
    * `EventAnalyticsPack.funnel`: emit one row per user THE MOMENT their
    * ordered stage chain completes (e.g. view→click→purchase), carrying
    * every stage's event time.
    *
    * Chain semantics are exactly the batch CTE cascade's: stage i is the
    * EARLIEST event of type `stages(i)` strictly after stage i−1's time
    * (stage 0 = the user's earliest stage-0 event). A chronological fold
    * reproduces those nested minima — the first stage-0 event in event-
    * time order IS min(t₀), and after it every stage advances on the
    * first matching later event — so correctness needs the fold to run in
    * GLOBAL event-time order. Arrival order is not event-time order, so
    * events BUFFER until the watermark passes them (watermark finality,
    * the as-of-stream discipline): each invocation folds only rows at or
    * below the current watermark, sorted; rows above it wait, with an
    * event-time timeout re-arming at the earliest buffered row so a fold
    * fires even if the user never sends another event.
    *
    * State: the completed stage-time PREFIX (≤ k longs) per user — the
    * same O(users) any per-user lifetime aggregate (batch funnel
    * included) pays — plus a buffer bounded by rate × watermark horizon,
    * cleared on completion. The `done` latch makes emission exactly-once
    * per user. Late rows beyond the fold horizon are dropped (the
    * documented watermark divergence every operator here shares).
    * Chunked-replay parity vs the batch funnel's completed rows and
    * chunk-boundary invariance are asserted in TsStreamSpec. */
  def funnelStream(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, stages: Seq[String],
                   watermark: String = "1 hour"): Dataset[FunnelHit] = {
    require(stages.nonEmpty, "at least one funnel stage required")
    import events.sparkSession.implicits._
    events
      .select(col(userCol).cast("long").as("user"),
        col(tsCol).cast("timestamp").as("ts"),
        col(typeCol).cast("string").as("etype"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, String)],
         state: GroupState[FunnelState]) => {
          val s0 = state.getOption.getOrElse(
            FunnelState(Nil, Nil, Long.MinValue, done = false))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val fresh =
            if (state.hasTimedOut) Nil
            else it.map(e => (usOf(e._2), e._3))
              .filter(_._1 > s0.foldedToUs).toSeq // late-beyond-horizon drop
          val (ripe, hold) = (s0.buf ++ fresh).partition(_._1 <= wmUs)
          var stageUs = s0.stageUs
          var done = s0.done
          val hits = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
          if (!done) {
            // within-instant order is irrelevant: each stage requires a
            // STRICTLY later time, so equal-time events can never chain
            ripe.sortBy(identity).foreach { case (t, ty) =>
              if (!done && ty == stages(stageUs.length) &&
                  (stageUs.isEmpty || t > stageUs.last)) {
                stageUs = stageUs :+ t
                if (stageUs.length == stages.length) {
                  done = true
                  hits += FunnelHit(user, stageUs)
                }
              }
            }
          }
          val ns = FunnelState(stageUs, if (done) Nil else hold,
            math.max(s0.foldedToUs, wmUs), done)
          state.update(ns)
          if (ns.buf.nonEmpty) // wake when the watermark passes the buffer head
            state.setTimeoutTimestamp(ns.buf.map(_._1).min / 1000L + 1L)
          hits.iterator
        })
  }

  /** Streaming sessionization — the live twin of the gaps-and-islands
    * assignment (`EventAnalyticsPack.sessionize`): every event gets its
    * user's 1-based session sequence number, final the moment it is
    * emitted. Same threshold convention as `session_window` (a gap of
    * exactly `gap` STARTS a new session — the exclusive window end), so
    * batch and stream induce the same session partition.
    *
    * A session number depends on every earlier event of the user in
    * EVENT-TIME order, so the operator uses the funnelStream discipline:
    * buffer until the watermark passes an event, fold ripe events sorted,
    * emit each with its final number, re-arm an event-time timeout at the
    * buffer head so quiet users still flush. Folded state is TWO longs
    * per user (last event time + counter — O(users), what any lifetime
    * per-user aggregate pays); the buffer is rate × horizon bounded. Late
    * rows beyond the fold horizon are dropped (the shared watermark
    * divergence). Chunked-replay parity vs the batch key in
    * TsStreamSpec. */
  def sessionizeStream(events: DataFrame, userCol: String, idCol: String,
                       tsCol: String, gapUs: Long = 10L * 60 * 1000000,
                       watermark: String = "1 hour"): Dataset[SessionAssign] = {
    require(gapUs > 0, s"gap must be positive, got $gapUs")
    import events.sparkSession.implicits._
    events
      .select(col(userCol).cast("long").as("user"),
        col(idCol).cast("long").as("event_id"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[SessionizeState]) => {
          val s0 = state.getOption.getOrElse(
            SessionizeState(Long.MinValue, 0L, Nil, Long.MinValue))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val fresh =
            if (state.hasTimedOut) Nil
            else it.map(e => (usOf(e._3), e._2))
              .filter(_._1 > s0.foldedToUs).toSeq // late-beyond-horizon drop
          val (ripe, hold) = (s0.buf ++ fresh).partition(_._1 <= wmUs)
          var lastUs = s0.lastUs
          var seq = s0.seq
          val out = ripe.sortBy(identity).map { case (t, id) =>
            if (lastUs == Long.MinValue || t - lastUs >= gapUs) seq += 1
            lastUs = t
            SessionAssign(user, id, t, seq)
          }
          state.update(SessionizeState(lastUs, seq, hold,
            math.max(s0.foldedToUs, wmUs)))
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(hold.map(_._1).min / 1000L + 1L)
          out.iterator
        })
  }

  /** Streaming SCD-2 state compression — the live CDC twin of
    * `EventAnalyticsPack.scd2`: each user's event stream collapses to runs
    * of consecutive equal state values, and a run is emitted as a CLOSED
    * [valid_from, valid_to) interval the moment the event that ends it is
    * folded. Closed runs are FINAL at emission: the closing event folds
    * only once the watermark passes it, and any event that could still
    * extend the run would sort before the closing event — already folded,
    * or late beyond the horizon and dropped (the shared watermark
    * divergence). The one honest difference from batch: the OPEN run
    * (batch's valid_to IS NULL row) never emits — its end and count are
    * still unknowable — so stream output equals the batch key's
    * closed-interval subset (asserted on chunked replay in TsStreamSpec).
    *
    * Same buffered-fold discipline as sessionizeStream: buffer above the
    * watermark, fold ripe events in (event time, event id) order — the id
    * tiebreak keeps same-instant state flips deterministic, matching the
    * batch window's ordering — re-arm an event-time timeout at the buffer
    * head so runs closed by a quiet period's last event still flush.
    * Folded state is ONE open run (a string + three longs) per user —
    * O(users), the CDC-compaction floor — plus the rate × horizon bounded
    * buffer. */
  def scd2Stream(events: DataFrame, userCol: String, idCol: String,
                 tsCol: String, typeCol: String,
                 watermark: String = "1 hour"): Dataset[ScdRun] = {
    import events.sparkSession.implicits._
    events
      .select(col(userCol).cast("long").as("user"),
        col(idCol).cast("long").as("event_id"),
        col(tsCol).cast("timestamp").as("ts"),
        col(typeCol).cast("string").as("ty"))
      .withWatermark("ts", watermark)
      .as[(Long, Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[(Long, Long, java.sql.Timestamp, String)],
         state: GroupState[ScdState]) => {
          val s0 = state.getOption.getOrElse(
            ScdState(null, Long.MinValue, 0L, 0L, Nil, Long.MinValue))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val fresh =
            if (state.hasTimedOut) Nil
            else it.map(e => (usOf(e._3), e._2, e._4))
              .filter(_._1 > s0.foldedToUs).toSeq // late-beyond-horizon drop
          val (ripe, hold) = (s0.buf ++ fresh).partition(_._1 <= wmUs)
          var (curTy, from, n, runId) =
            (s0.curType, s0.validFromUs, s0.nEvents, s0.runId)
          val out = Seq.newBuilder[ScdRun]
          ripe.sortBy(e => (e._1, e._2)).foreach { case (t, _, ty) =>
            if (curTy == null) { curTy = ty; from = t; n = 1L; runId += 1 }
            else if (ty == curTy) n += 1
            else {
              out += ScdRun(user, runId, curTy, from, t, n)
              curTy = ty; from = t; n = 1L; runId += 1
            }
          }
          state.update(ScdState(curTy, from, n, runId, hold,
            math.max(s0.foldedToUs, wmUs)))
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(hold.map(_._1).min / 1000L + 1L)
          out.result().iterator
        })
  }

  /** Streaming EWMA — the O(1)-state stream twin of
    * TimeSeriesPack.windowEwma. The adjusted EWM mean folds exactly:
    *   numₜ = xₜ + (1−α)·numₜ₋₁,  denₜ = 1 + (1−α)·denₜ₋₁,  ewmaₜ = numₜ/denₜ
    * so unlike batch `lag()`/frames, streaming needs only TWO doubles per
    * live key — no window, no buffered history. This is the UNtruncated
    * ewm(alpha).mean(); the batch key truncates at K=20 rows, which differs
    * by at most (1−α)^K ≈ 1e-6 of the value range at α=0.5 (TsStreamSpec
    * asserts both: exact match to the recurrence, and the truncation bound
    * against the batch operator). State eviction mirrors deltasPerKey:
    * event-time timeout once a key idles past the watermark horizon. */
  def ewmaPerKey(points: Dataset[KeyedPoint], alpha: Double = 0.5,
                 watermark: String = "1 hour",
                 idleHorizonMs: Long = 3600000L): Dataset[PointEwma] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    import points.sparkSession.implicits._
    val r = 1.0 - alpha
    points.withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (key: Long, it: Iterator[KeyedPoint], state: GroupState[EwmaState]) =>
          if (state.hasTimedOut) {
            state.remove(); Iterator.empty
          } else {
            val pts = it.toArray.sortBy(p => usOf(p.ts))
            var s = state.getOption.getOrElse(EwmaState(0.0, 0.0, Long.MinValue))
            val out = pts.map { p =>
              s = EwmaState(p.value + r * s.num, 1.0 + r * s.den, usOf(p.ts))
              PointEwma(key, p.ts, p.value, s.num / s.den)
            }
            if (pts.nonEmpty) {
              state.update(s)
              state.setTimeoutTimestamp(s.lastTsUs / 1000L + idleHorizonMs)
            }
            out.iterator
          })
  }

  /** Streaming backward as-of join, stream-static — the tick-enrichment
    * shape (each streaming event picks up the most recent static dimension
    * row at-or-before its event time, per key) and the missing streaming
    * twin of AsOfJoin.backward (r8 verdict gap #1).
    *
    * The batch operator's union + running-window plan cannot run on a
    * stream (analytic windows need the whole partition). Instead the
    * STATIC side is recast as validity INTERVALS — one batch window pass
    * computes each right row's [t, next t) span per key — and the join
    * becomes a plain stream-static equi-join with a range predicate, which
    * Structured Streaming supports stateless-ly: each event matches exactly
    * the one interval covering its time, no streaming state at all. The
    * interval table is broadcast, so at scale the stream never shuffles —
    * the same "broadcast the small dimension side" rule as the batch
    * RelationalPack joins.
    *
    * Semantics match AsOfJoin.backward exactly (parity proven row-for-row
    * in TsStreamSpec on chunked MemoryStream replay): a right row at
    * exactly t is visible to a left row at t (closed lower bound), null
    * right keys/times never match (dropped with the interval build),
    * unmatched left rows keep null right columns (left-outer). Right-side
    * (key, time) duplicates need pre-deduping, as in batch. */
  def asOfBackwardStatic(stream: DataFrame, static: DataFrame,
                         streamKey: String, staticKey: String,
                         streamTime: String, staticTime: String): DataFrame = {
    val overlap = stream.columns.toSet.intersect(static.columns.toSet)
    require(overlap.isEmpty, s"column overlap not supported: $overlap")
    val reserved = Set("_vt", "_vend")
    val clash = (stream.columns ++ static.columns).toSet.intersect(reserved)
    require(clash.isEmpty, s"input columns clash with reserved names: $clash")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(staticKey))
      .orderBy(col(staticTime).cast("timestamp"))
    val intervals = static
      .where(col(staticKey).isNotNull && col(staticTime).isNotNull)
      .withColumn("_vt", col(staticTime).cast("timestamp"))
      .withColumn("_vend", lead(col("_vt"), 1).over(w))
    val streamT = col(streamTime).cast("timestamp")
    stream.join(broadcast(intervals),
        stream(streamKey) === intervals(staticKey) &&
          streamT >= col("_vt") &&
          (col("_vend").isNull || streamT < col("_vend")),
        "left_outer")
      .drop("_vt", "_vend")
  }

  /** Streaming FORWARD as-of join, stream-static — the mirror of
    * [[asOfBackwardStatic]] for `merge_asof(direction='forward')`: each
    * streaming event picks up the EARLIEST static row at-or-after its
    * event time, per key. The static side is recast as validity intervals
    * the other way round — a right row at `t` is the forward match for
    * every event in `(prev t, t]` of its key (`lag` gives the open lower
    * bound; a key's earliest right covers everything before it) — so the
    * join is again a plain stateless broadcast equi-join with a range
    * predicate: no streaming state, stream never shuffles. Null static
    * keys/times never match; unmatched events keep null right columns.
    * Parity with AsOfJoin.forward is asserted in TsStreamSpec (the
    * operator is a plain join, so batch inputs prove it row-for-row). */
  def asOfForwardStatic(stream: DataFrame, static: DataFrame,
                        streamKey: String, staticKey: String,
                        streamTime: String, staticTime: String): DataFrame = {
    val overlap = stream.columns.toSet.intersect(static.columns.toSet)
    require(overlap.isEmpty, s"column overlap not supported: $overlap")
    val reserved = Set("_vt", "_vprev")
    val clash = (stream.columns ++ static.columns).toSet.intersect(reserved)
    require(clash.isEmpty, s"input columns clash with reserved names: $clash")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(staticKey))
      .orderBy(col(staticTime).cast("timestamp"))
    val intervals = static
      .where(col(staticKey).isNotNull && col(staticTime).isNotNull)
      .withColumn("_vt", col(staticTime).cast("timestamp"))
      .withColumn("_vprev", lag(col("_vt"), 1).over(w))
    val streamT = col(streamTime).cast("timestamp")
    stream.join(broadcast(intervals),
        stream(streamKey) === intervals(staticKey) &&
          streamT <= col("_vt") &&
          (col("_vprev").isNull || streamT > col("_vprev")),
        "left_outer")
      .drop("_vt", "_vprev")
  }

  /** Streaming NEAREST as-of join, stream-static — completes the
    * stream-static family ([[asOfBackwardStatic]] / [[asOfForwardStatic]]):
    * each streaming event matches the static row of its key with the
    * smallest |Δt|, exact ties resolving backward, `merge_asof
    * (direction='nearest')` semantics. Nearest ownership is STILL an
    * interval partition of the timeline — consecutive static rows split at
    * their midpoint — so both neighbor times (`lag` + `lead`) turn the
    * match into the same stateless broadcast range join as the other two:
    * row `r` owns events with `2t > t_prev + t_r` (strict: a midpoint
    * event between prev and r is equidistant and ties BACKWARD to prev)
    * and `2t ≤ t_r + t_next` (inclusive: the midpoint between r and next
    * ties backward to r). Computed in epoch-µs longs — exact, no
    * fractional-midpoint rounding. No streaming state, stream never
    * shuffles; unmatched events (keys with no static rows) keep null
    * right columns. Parity with AsOfJoin.nearest is asserted in
    * TsStreamSpec on batch inputs (the operator is a plain join). */
  def asOfNearestStatic(stream: DataFrame, static: DataFrame,
                        streamKey: String, staticKey: String,
                        streamTime: String, staticTime: String): DataFrame = {
    val overlap = stream.columns.toSet.intersect(static.columns.toSet)
    require(overlap.isEmpty, s"column overlap not supported: $overlap")
    val reserved = Set("_vt", "_vprev", "_vnext")
    val clash = (stream.columns ++ static.columns).toSet.intersect(reserved)
    require(clash.isEmpty, s"input columns clash with reserved names: $clash")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(staticKey))
      .orderBy(col(staticTime).cast("timestamp"))
    val intervals = static
      .where(col(staticKey).isNotNull && col(staticTime).isNotNull)
      .withColumn("_vt", col(staticTime).cast("timestamp"))
      .withColumn("_vprev", lag(col("_vt"), 1).over(w))
      .withColumn("_vnext", lead(col("_vt"), 1).over(w))
    val tUs = unix_micros(col(streamTime).cast("timestamp"))
    stream.join(broadcast(intervals),
        stream(streamKey) === intervals(staticKey) &&
          (col("_vprev").isNull ||
            tUs * 2 > unix_micros(col("_vprev")) + unix_micros(col("_vt"))) &&
          (col("_vnext").isNull ||
            tUs * 2 <= unix_micros(col("_vt")) + unix_micros(col("_vnext"))),
        "left_outer")
      .drop("_vt", "_vprev", "_vnext")
  }

  /** Direction strategy for the generic stream-stream as-of engine:
    * finality, match, prune, and wake-deadline rules — the ONLY things
    * that differ between backward/forward/nearest. The scaladocs on the
    * operators below spell out each rule and why it is final under either
    * late-row convention. */
  private sealed trait AsOfDir extends Serializable {
    /** Is a pending left at `t` decidable at watermark `wmUs`? */
    def isFinal[R](rights: Seq[(Long, R)], t: Long, wmUs: Long,
                   tol: Option[Long]): Boolean
    /** The (final) match for a left at `t` from the buffered run. */
    def matchFor[R](rights: Seq[(Long, R)], t: Long,
                    tol: Option[Long]): Option[(Long, R)]
    /** Rights still reachable by some future probe above `floor`. */
    def prune[R](rights: Seq[(Long, R)], floor: Long): Seq[(Long, R)]
    /** Wake deadline (ms) for an undecided left at `t`; None = no
      * deadline exists (undecidable until more data or idle-GC). */
    def deadlineMs[R](rights: Seq[(Long, R)], t: Long,
                      tol: Option[Long]): Option[Long]
  }

  /** Backward: wm strictly past `t` closes the match. The STRICT bound is
    * deliberate (r9 advice): finality relies on Spark dropping any
    * later-arriving right at-or-before the watermark, but if the engine's
    * late-row predicate is strict (drops only ts < watermark) a right at
    * EXACTLY the watermark instant could still arrive in a later batch
    * and would have matched a same-instant left already emitted under a
    * `<=` bound. With `<`, that boundary left finalizes one batch later —
    * correct under either filter convention. Rights below the floor
    * collapse to the single latest one (a future left must have
    * ts > watermark, and its backward match at-or-below the prune floor
    * can only be the latest such right). Tolerance only nulls at emission
    * time — the state prune is unaffected. */
  private case object AsOfBackward extends AsOfDir {
    def isFinal[R](rights: Seq[(Long, R)], t: Long, wmUs: Long,
                   tol: Option[Long]): Boolean = wmUs > t
    def matchFor[R](rights: Seq[(Long, R)], t: Long,
                    tol: Option[Long]): Option[(Long, R)] =
      lastAtOrBefore(rights, t).filter(r => tol.forall(t - r._1 <= _))
    def prune[R](rights: Seq[(Long, R)], floor: Long): Seq[(Long, R)] = {
      val (older, newer) = rights.partition(_._1 < floor)
      (if (older.nonEmpty) older.takeRight(1) else Nil) ++ newer
    }
    def deadlineMs[R](rights: Seq[(Long, R)], t: Long,
                      tol: Option[Long]): Option[Long] = Some(t / 1000L)
  }

  /** Forward: final once the watermark reaches the buffered candidate (or
    * the tolerance window expires → null); never looks backward, so all
    * rights below the floor are dead. */
  private case object AsOfForward extends AsOfDir {
    def isFinal[R](rights: Seq[(Long, R)], t: Long, wmUs: Long,
                   tol: Option[Long]): Boolean =
      firstAtOrAfter(rights, t).exists(c => wmUs >= c._1) ||
        tol.exists(x => wmUs > t + x)
    def matchFor[R](rights: Seq[(Long, R)], t: Long,
                    tol: Option[Long]): Option[(Long, R)] =
      firstAtOrAfter(rights, t).filter(c => tol.forall(c._1 - t <= _))
    def prune[R](rights: Seq[(Long, R)], floor: Long): Seq[(Long, R)] =
      rights.filter(_._1 >= floor)
    def deadlineMs[R](rights: Seq[(Long, R)], t: Long,
                      tol: Option[Long]): Option[Long] = {
      // candidate's instant (ceil to ms) or the tolerance expiry
      val byCand = firstAtOrAfter(rights, t).map(c => (c._1 + 999L) / 1000L)
      val byTol = tol.map(x => (t + x) / 1000L + 1L)
      (byCand.toSeq ++ byTol.toSeq).minOption
    }
  }

  /** Nearest: both twins' rules composed through the wait bound
    * d_eff = min(backward gap, forward gap, tolerance+1µs); ties resolve
    * backward; prunes like backward (it still looks backward). */
  private case object AsOfNearest extends AsOfDir {
    private def dEff[R](rights: Seq[(Long, R)], t: Long,
                        tol: Option[Long]): Option[Long] = {
      val db = lastAtOrBefore(rights, t).map(r => t - r._1)
        .filter(d => tol.forall(d <= _))
      val df = firstAtOrAfter(rights, t).map(r => r._1 - t)
        .filter(d => tol.forall(d <= _))
      (db.toSeq ++ df.toSeq ++ tol.map(_ + 1L).toSeq).minOption
    }
    def isFinal[R](rights: Seq[(Long, R)], t: Long, wmUs: Long,
                   tol: Option[Long]): Boolean =
      wmUs > t && dEff(rights, t, tol).exists(d => wmUs >= t + d)
    def matchFor[R](rights: Seq[(Long, R)], t: Long,
                    tol: Option[Long]): Option[(Long, R)] = {
      val b = lastAtOrBefore(rights, t).filter(r => tol.forall(t - r._1 <= _))
      val f = firstAtOrAfter(rights, t).filter(r => tol.forall(r._1 - t <= _))
      (b, f) match {
        case (Some(rb), Some(rf)) =>
          if (t - rb._1 <= rf._1 - t) Some(rb) else Some(rf)
        case (x, y) => x.orElse(y)
      }
    }
    def prune[R](rights: Seq[(Long, R)], floor: Long): Seq[(Long, R)] =
      AsOfBackward.prune(rights, floor)
    def deadlineMs[R](rights: Seq[(Long, R)], t: Long,
                      tol: Option[Long]): Option[Long] =
      // wm must pass t AND reach t + d_eff: wake at the later ms
      dEff(rights, t, tol).map(d =>
        math.max(t / 1000L + 1L, (t + d + 999L) / 1000L))
  }

  /** GENERIC stream-stream as-of engine — composite keys and arbitrary
    * payloads, the live twin of `AsOfJoin.{backward,forward,nearest}By`:
    * `K` is any encodable key (a Long, a (symbol, venue) tuple, a case
    * class), `L`/`R` any case-class rows — a multi-column quote stream
    * rides whole, no flattening to one double. One
    * `flatMapGroupsWithState` over the tagged union of both streams,
    * keyed by the join key; the direction-specific finality / prune /
    * wake rules live in [[AsOfDir]] and are documented (with the
    * late-row-convention arguments) on the mono-typed operators below —
    * which ARE this engine at `K = Long, L = R = KeyedPoint`, so the
    * whole chunked-replay + randomized parity battery exercises this code
    * path. State per key = the pruned rights run + undecided lefts,
    * payload-width instead of one double; same bounds, same idle-GC.
    *
    * At scale: state is partitioned by `K` across executors exactly like
    * any streaming aggregation — hot composite keys shard no worse than
    * hot long keys, and the payload rides through the state store
    * compactly via the product encoder. */
  def asOfStreamOf[K: TypeTag, L <: Product : TypeTag, R <: Product : TypeTag](
      direction: String,
      left: Dataset[L], right: Dataset[R],
      leftKey: L => K, rightKey: R => K,
      leftTime: L => java.sql.Timestamp, rightTime: R => java.sql.Timestamp,
      watermark: String = "1 hour",
      idleHorizonMs: Long = 3600000L,
      toleranceUs: Option[Long] = None): Dataset[AsOfPair[L, R]] = {
    val dir: AsOfDir = direction match {
      case "backward" => AsOfBackward
      case "forward"  => AsOfForward
      case "nearest"  => AsOfNearest
      case other => throw new IllegalArgumentException(
        s"direction must be backward|forward|nearest, got '$other'")
    }
    require(toleranceUs.forall(_ >= 0),
      s"toleranceUs must be non-negative, got $toleranceUs")
    implicit val encK: Encoder[K] = ExpressionEncoder()
    implicit val encEvt: Encoder[AsOfEvt[K, L, R]] = ExpressionEncoder()
    implicit val encState: Encoder[AsOfStateG[L, R]] = ExpressionEncoder()
    implicit val encOut: Encoder[AsOfPair[L, R]] = ExpressionEncoder()
    val tol = toleranceUs
    val tagged = left
      .map(p => AsOfEvt(leftKey(p), leftTime(p), 1,
        Some(p): Option[L], None: Option[R]))
      .union(right.map(p => AsOfEvt(rightKey(p), rightTime(p), 0,
        None: Option[L], Some(p): Option[R])))
    tagged.withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (_: K, it: Iterator[AsOfEvt[K, L, R]], state: GroupState[AsOfStateG[L, R]]) => {
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          var buf = state.getOption.getOrElse(AsOfStateG[L, R](Nil, Nil))
          if (!state.hasTimedOut && it.nonEmpty) {
            // rights before lefts at the same instant (side 0 < 1) so a
            // same-microbatch same-instant right is in the run before any
            // left could need it — though correctness does not depend on
            // intra-batch order (lefts only emit at watermark finality).
            val pts = it.toArray.sortBy(p => (usOf(p.ts), p.side))
            val incoming = pts.iterator.filter(_.side == 0)
              .map(p => (usOf(p.ts), p.r.get)).toIndexedSeq // sorted: pts is
            buf = AsOfStateG(mergeSorted(buf.rights, incoming),
              buf.pending ++ pts.iterator.filter(_.side == 1)
                .map(p => (usOf(p.ts), p.l.get)))
          }
          val (ready, stillPending) = buf.pending.partition { case (t, _) =>
            dir.isFinal(buf.rights, t, wmUs, tol)
          }
          val out = ready.sortBy(_._1).map { case (t, lv) =>
            AsOfPair(lv, dir.matchFor(buf.rights, t, tol).map(_._2))
          }
          // Prune: a FUTURE left has ts > wm; only rights the direction
          // can still reach from a probe above the floor survive.
          val floor = (stillPending.map(_._1) :+ wmUs).min
          val kept = dir.prune(buf.rights, floor)
          if (state.hasTimedOut && stillPending.isEmpty && ready.isEmpty) {
            state.remove() // idle key: buffer evicted (deltasPerKey contract)
            out.iterator
          } else if (kept.isEmpty && stillPending.isEmpty) {
            if (state.exists) state.remove() // nothing left to carry
            out.iterator
          } else {
            // wake at the earliest deadline a pending left waits on; else
            // idle-GC at idleHorizon past the key's LAST EVENT — anchoring
            // to the current watermark would mis-fire: a batch processed
            // before the watermark first advances sees wm = 0, so
            // "wm + horizon" lands decades in the past and the GC fired
            // (and evicted live rights) on the very next batch.
            val lastUs = (kept.map(_._1) ++ stillPending.map(_._1)).max
            val idleMs = lastUs / 1000L + idleHorizonMs
            val deadlines = stillPending.flatMap { case (t, _) =>
              dir.deadlineMs(kept, t, tol)
            }
            if (deadlines.isEmpty && state.hasTimedOut &&
                state.getCurrentWatermarkMs() >= idleMs) {
              // Idle GC reached a key whose pending lefts are UNDECIDABLE
              // (no candidate, no tolerance — forward/nearest only):
              // finalize them unmatched and evict; otherwise the key would
              // re-arm at wm+1 and fire on every microbatch forever while
              // its state never shrinks.
              val flushed = stillPending.sortBy(_._1).map { case (t, lv) =>
                AsOfPair(lv, None: Option[R])
              }
              state.remove()
              (out ++ flushed).iterator
            } else {
              state.update(AsOfStateG(kept, stillPending))
              val wakeMs = if (deadlines.nonEmpty) deadlines.min else idleMs
              state.setTimeoutTimestamp(
                math.max(wakeMs, state.getCurrentWatermarkMs() + 1L))
              out.iterator
            }
          }
        })
  }

  /** Streaming backward as-of join, stream-STREAM — both sides live
    * (trades ⋈ quotes), the hard variant of [[asOfBackwardStatic]] and the
    * full streaming twin of AsOfJoin.backward. Spark's built-in
    * stream-stream joins cannot express "the single most recent right row
    * at-or-before" (that is an ordered reduction, not a predicate), so this
    * runs as `flatMapGroupsWithState` over the tagged UNION of both
    * streams, keyed by the join key:
    *
    *   - right rows buffer as a per-key ASCENDING (ts, value) run;
    *   - a left row is NOT emitted on arrival: a right row with smaller
    *     event time can still arrive until the watermark passes the left
    *     row's time. Lefts wait in `pending` and emit exactly when
    *     `watermark > ts` (strict — see the inline note) — at which point
    *     any still-unseen right at-or-before is LATE by definition (the
    *     watermark filter would drop it under either the strict or the
    *     non-strict late-row convention), so the match is FINAL.
    *     Same-instant rights match (closed bound, batch parity), via
    *     binary search over the buffered run.
    *   - state is bounded: emitted lefts leave `pending`; rights older
    *     than every possible future match collapse to the single latest
    *     one (a future left must have ts > watermark, and its backward
    *     match at-or-below the prune floor can only be the latest such
    *     right); an idle key's whole buffer is evicted after
    *     `idleHorizonMs` past the watermark, like deltasPerKey.
    *
    * Event-time timeouts drive emission when a key receives no further
    * input (the pending left flushes once the watermark passes it).
    * Batch parity (same rows as AsOfJoin.backward, modulo rows the final
    * watermark never finalizes) is proven in TsStreamSpec on chunked
    * replay with a flush sentinel. */
  def asOfBackwardStream(left: Dataset[KeyedPoint], right: Dataset[KeyedPoint],
                         watermark: String = "1 hour",
                         idleHorizonMs: Long = 3600000L,
                         toleranceUs: Option[Long] = None): Dataset[PointAsOf] = {
    import left.sparkSession.implicits._
    asOfStreamOf[Long, KeyedPoint, KeyedPoint]("backward", left, right,
      _.key, _.key, _.ts, _.ts, watermark, idleHorizonMs, toleranceUs)
      .map(p => PointAsOf(p.left.key, p.left.ts, p.left.value,
        p.right.map(_.ts), p.right.map(_.value)))
  }

  /** Streaming FORWARD as-of join, stream-stream — the mirror twin of
    * [[asOfBackwardStream]] (`merge_asof(direction='forward')`): each left
    * row matches the EARLIEST right at-or-after its event time, per key.
    * Same flatMapGroupsWithState skeleton over the tagged union; what
    * changes is the finality rule, because forward matches look INTO the
    * future:
    *
    *   - a left `t` whose earliest buffered at-or-after right is `c`
    *     finalizes once `wm ≥ c.ts`: any unseen right in [t, c) — the only
    *     rows that could beat `c` — is strictly below the watermark and
    *     dropped under either late-row convention, so `c` is the global
    *     non-late match. Emission is at-first-right-or-watermark, one
    *     microbatch after `c` is safe.
    *   - a left with NO buffered candidate can never finalize as unmatched
    *     from the watermark alone — a right with FUTURE event time is never
    *     late, so "no right will ever come" is undecidable on an unbounded
    *     stream. With `toleranceUs` set (the practical deployment: bound
    *     how long a match may lag) it finalizes as NULL once
    *     `wm > t + tolerance` — every right that could still match inside
    *     the bound is late under both conventions. Without tolerance such
    *     lefts wait for a right until the key's idle-GC horizon, at which
    *     point they are finalized UNMATCHED and the key evicted — bounded
    *     state and no silent row loss, at the price of divergence from
    *     batch (which can see the whole timeline) for exactly those rows.
    *   - state is bounded the other way round from backward: forward never
    *     looks backward, so ALL rights below min(pending lefts, watermark)
    *     are dead — no latest-older carry at all; pending lefts leave on
    *     emission; idle keys evict wholesale after `idleHorizonMs`.
    *
    * Parity with AsOfJoin.forward (same rows, tolerance applied
    * identically) is proven in TsStreamSpec on chunked replay and in
    * TsStreamProps on randomized timelines, both with a finite tolerance so
    * every left finalizes. */
  def asOfForwardStream(left: Dataset[KeyedPoint], right: Dataset[KeyedPoint],
                        watermark: String = "1 hour",
                        idleHorizonMs: Long = 3600000L,
                        toleranceUs: Option[Long] = None): Dataset[PointAsOf] = {
    import left.sparkSession.implicits._
    asOfStreamOf[Long, KeyedPoint, KeyedPoint]("forward", left, right,
      _.key, _.key, _.ts, _.ts, watermark, idleHorizonMs, toleranceUs)
      .map(p => PointAsOf(p.left.key, p.left.ts, p.left.value,
        p.right.map(_.ts), p.right.map(_.value)))
  }

  /** Streaming NEAREST as-of join, stream-stream — completes the streaming
    * as-of family ([[asOfBackwardStream]] / [[asOfForwardStream]]):
    * `merge_asof(direction='nearest')` semantics, each left matching the
    * right of the same key with the smallest |Δt| in either direction,
    * exact ties resolving backward, per-side tolerance like the batch
    * operator (AsOfJoin.nearest).
    *
    * Finality composes both twins' rules. For a pending left `t` with
    * current ELIGIBLE candidates (backward `b`, forward `f`, each within
    * tolerance) let `d_eff = min(t−b.ts, f.ts−t, tolerance+1µs)`; the left
    * finalizes once `wm > t` (closes the backward side — any later
    * at-or-before right is dropped under either late-row convention) AND
    * `wm ≥ t + d_eff` (closes the forward side — any unseen right that
    * could strictly beat the current best, or produce a non-null inside
    * the tolerance window, is below the watermark). The match is
    * recomputed at emission from the full buffered run, so the finalized
    * answer equals the batch one over all non-late rows. As with forward,
    * a candidate-less, tolerance-less left is undecidable on an unbounded
    * stream (d_eff = ∞): it waits for data until the idle-GC horizon, then
    * finalizes UNMATCHED as the key evicts — set a tolerance in
    * deployments that need bounded latency.
    *
    * State: rights prune exactly like the backward twin (everything below
    * the pending/watermark floor collapses to the single latest older
    * right — nearest still looks backward); pending lefts wake at their
    * `t + d_eff` deadline. Parity with AsOfJoin.nearest (including the
    * backward tie preference and per-side tolerance) is proven in
    * TsStreamSpec on chunked replay and TsStreamProps on randomized
    * timelines with finite tolerance. */
  def asOfNearestStream(left: Dataset[KeyedPoint], right: Dataset[KeyedPoint],
                        watermark: String = "1 hour",
                        idleHorizonMs: Long = 3600000L,
                        toleranceUs: Option[Long] = None): Dataset[PointAsOf] = {
    import left.sparkSession.implicits._
    asOfStreamOf[Long, KeyedPoint, KeyedPoint]("nearest", left, right,
      _.key, _.key, _.ts, _.ts, watermark, idleHorizonMs, toleranceUs)
      .map(p => PointAsOf(p.left.key, p.left.ts, p.left.value,
        p.right.map(_.ts), p.right.map(_.value)))
  }

  /** Ordered streaming sink: the graft-ts sink
    * ([[org.apache.spark.sql.graft.GraftTsStreamSink]]) over `table`, so
    * each microbatch lands through the monotonic-append guard, and a
    * checkpoint-replayed batch is skipped by the sink's manifest-stamped
    * batch id instead of appended twice. The TsTable write path does its
    * own day shuffle + within-partition sort, so files stay ts-sorted
    * regardless of microbatch layout. */
  def appendSink(stream: DataFrame, table: TsTable, checkpointDir: String,
                 filesPerDay: Int = 1): DataStreamWriter[Row] =
    stream.writeStream.format("graft-ts")
      .outputMode("append")
      .option("path", table.path)
      .option("tsCol", table.tsCol)
      .option("filesPerDay", filesPerDay.toString)
      .option("checkpointLocation", checkpointDir)

  /** Run a write until no more input is available, then stop (batch-style
    * drain; the production analogue is a continuous trigger). */
  def drain(w: DataStreamWriter[Row]): Unit = {
    val q: StreamingQuery = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Late-data observability snapshot for one query (see [[LateDataStats]]):
    * batches run, rows ingested, rows SILENTLY DROPPED because they
    * arrived behind the watermark, and the current watermark. The
    * watermark contract every stateful operator here relies on
    * ("late-beyond-horizon rows are dropped — the shared watermark
    * divergence") is only safe to operate when the drop volume is
    * MEASURED: a creeping drop rate is the signal to widen the delay or
    * fix the upstream lag, and without this number the divergence is
    * invisible. Reads the query's `recentProgress` ring (capped, default
    * `spark.sql.streaming.numRecentProgressUpdates` = 100 batches) — for
    * whole-lifetime totals attach a [[LateDataMonitor]] instead. */
  def lateDataStats(q: StreamingQuery): LateDataStats = {
    val ps = q.recentProgress
    LateDataStats(
      nBatches = ps.length.toLong,
      inputRows = ps.map(_.numInputRows).sum,
      droppedByWatermark =
        ps.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum,
      lastWatermark = ps.lastOption
        .flatMap(p => Option(p.eventTime.get("watermark"))))
  }

  /** Register a whole-lifetime [[LateDataMonitor]] on the session's
    * listener bus (covers every query of the session; progress events are
    * delivered asynchronously, so totals converge shortly after a batch
    * completes). Caller owns removal: `spark.streams.removeListener`. */
  def monitorLateData(spark: SparkSession): LateDataMonitor = {
    val m = new LateDataMonitor
    spark.streams.addListener(m)
    m
  }
}

/** One query's late-data report: batches observed, input rows, rows
  * dropped behind the watermark, last watermark (absent before the first
  * watermark advance). */
case class LateDataStats(nBatches: Long, inputRows: Long,
                         droppedByWatermark: Long,
                         lastWatermark: Option[String])

/** Whole-lifetime accumulating listener behind [[TsStream.monitorLateData]]
  * — survives the recentProgress ring's 100-batch cap. Thread-safe
  * (listener-bus delivery is async). */
final class LateDataMonitor
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  private val batches = new java.util.concurrent.atomic.AtomicLong
  private val input = new java.util.concurrent.atomic.AtomicLong
  private val dropped = new java.util.concurrent.atomic.AtomicLong
  @volatile private var lastWm: Option[String] = None

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    batches.incrementAndGet()
    input.addAndGet(event.progress.numInputRows)
    dropped.addAndGet(
      event.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    Option(event.progress.eventTime.get("watermark")).foreach(w =>
      lastWm = Some(w))
  }

  def stats: LateDataStats =
    LateDataStats(batches.get(), input.get(), dropped.get(), lastWm)
}
