package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.Row

/** Streaming operators over the `events` table (SURVEY §2.5): tumbling /
  * sliding / session windows with watermarks, plus the chat-log streaming
  * sink. Each aggregation is defined once as a DataFrame transform that
  * works identically on a batch frame (oracle-checkable) and on a
  * `readStream` frame (watermark applied only in streaming — Spark ignores
  * `withWatermark` in batch, so the same function serves both).
  */
object StreamingOps {

  /** Tumbling-window counts per event type. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Per-window trending items ("trending hashtags"): count the JSON
    * `props.k` item per tumbling window. The (window, item) count is an
    * incremental streaming aggregate — state is open-windows × distinct
    * items, watermark-evicted. Ranking is deliberately NOT here: a
    * row_number window is illegal on a streaming frame, so the top-n
    * layer ([[rankTrending]]) runs per CLOSED window in the sink
    * (foreachBatch) — or directly, batch-twin, where the whole composition
    * is oracle-checkable.
    */
  def trendingCounts(events: DataFrame, width: String = "6 hours",
      watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("term", get_json_object(col("props"), "$.k"))
      .where(col("term").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("term"), col("n"))

  /** Top-n per window over [[trendingCounts]] output (batch side / sink
    * side). Ties break on the term string — deterministic.
    */
  def rankTrending(counts: DataFrame, topN: Int = 3): DataFrame =
    counts
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("window_start").orderBy(col("n").desc, col("term"))))
      .where(col("rank") <= topN)

  /** Per-(window, bin) metric histogram — the incremental half of the
    * distribution-drift monitor ([[psiFromCounts]]). Streaming-legal:
    * state is open-windows × occupied bins, watermark-evicted; the PSI
    * layer runs per CLOSED window in the sink (foreachBatch) — or
    * directly, batch-twin, where the whole composition is
    * oracle-checkable (`st17`). Bins are fixed-width (`floor(metric /
    * binWidth)`), so the bin id needs no fitted model and two engines
    * agree bit-for-bit.
    */
  def driftCounts(events: DataFrame, metricCol: String = "value",
      width: String = "1 day", binWidth: Double = 50.0,
      watermark: String = "2 hours"): DataFrame = {
    require(binWidth > 0, s"driftCounts: binWidth $binWidth must be > 0")
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"),
        floor(col(metricCol) / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))
      .select(col("w.start").as("window_start"), col("bin"), col("c"))
  }

  /** PSI per window against an EXPLICIT frozen reference histogram
    * `(bin, c)` — the streaming-deployment half of the drift monitor
    * (the batch twin [[psiFromCounts]] derives its reference from the
    * data's earliest window; a production stream freezes the reference
    * at deploy time, the index families' frozen-quantizer stance).
    * Per-window semantics differ from the batch twin deliberately: the
    * smoothing universe is (reference bins ∪ THAT window's bins), so a
    * closed window's PSI depends only on itself and the reference —
    * windows alert independently, batch composition can't shift scores.
    * Same integer-grid quantized algebra (log ratios at 1e-6, diffs at
    * 1e-9, exact integer sums).
    */
  def psiVsReference(counts: DataFrame, reference: DataFrame): DataFrame = {
    val ref = reference.select(
      col("bin").cast("long").as("bin"), col("c").cast("long").as("c_ref"))
    val refTot = ref.agg(sum(col("c_ref")).as("t_ref"))
    val windows = counts.select("window_start").distinct()
    val universe = counts.select("window_start", "bin")
      .unionByName(windows.crossJoin(broadcast(ref.select("bin"))))
      .distinct()
    val full = universe
      .join(counts, Seq("window_start", "bin"), "left").na.fill(0L, Seq("c"))
      .join(broadcast(ref), Seq("bin"), "left").na.fill(0L, Seq("c_ref"))
    val perW = full.groupBy("window_start")
      .agg(sum(col("c")).as("t"), count(lit(1)).as("nb"))
    full.join(broadcast(perW), Seq("window_start"))
      .crossJoin(broadcast(refTot))
      .select(col("window_start"),
        (round(((col("c") + 1) / (col("t") + col("nb"))
          - (col("c_ref") + 1) / (col("t_ref") + col("nb"))) * 1e9, 0).cast("long") *
          round((log(col("c") + 1) - log(col("t") + col("nb"))
            - log(col("c_ref") + 1) + log(col("t_ref") + col("nb"))) * 1e6, 0)
            .cast("long")).as("__term_q"))
      .groupBy("window_start")
      .agg(round(sum(col("__term_q")) / 1e15, 6).as("psi"))
  }

  /** Streaming drift alerting — the deployed composition: [[driftCounts]]
    * in APPEND mode (a window's histogram is emitted once, when the
    * watermark closes it), then per micro-batch [[psiVsReference]]
    * against the frozen reference and an append of the windows whose PSI
    * crosses `threshold` to the alerts table. At-least-once: a replayed
    * batch re-appends its alert rows — alerts are idempotent to act on
    * (keyed by window_start), matching the chat-log sink's stance.
    */
  def streamingDriftAlerts(
      events: DataFrame,
      reference: DataFrame,
      alertsPath: String,
      checkpointDir: String,
      threshold: Double = 0.25,
      metricCol: String = "value",
      width: String = "1 day",
      binWidth: Double = 50.0,
      watermark: String = "2 hours"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val ref = reference.select(
      col("bin").cast("long").as("bin"), col("c").cast("long").as("c"))
    // fail at WIRING time, not silently at runtime: an empty reference
    // makes t_ref NULL inside psiVsReference, every psi NULL, and the
    // threshold filter then never alerts — a monitor that monitors
    // nothing (ADVICE r10). One tiny count on a deploy-time table.
    require(!ref.isEmpty,
      "streamingDriftAlerts: the frozen reference histogram is empty — " +
        "an empty reference yields NULL psi and a monitor that never alerts")
    driftCounts(events, metricCol, width, binWidth, watermark)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        psiVsReference(batch, ref)
          .where(col("psi") >= threshold)
          .write.mode("append").parquet(alertsPath)
        ()
      }
  }

  /** Population Stability Index per window vs the EARLIEST window — the
    * data-quality drift monitor a continuous intake pipeline puts after
    * its quality scorer (is this week's crawl still distributed like the
    * reference?). PSI = Σ_bins (p_w − p_ref) · ln(p_w / p_ref) over
    * Laplace-smoothed bin probabilities p = (c+1)/(T+B); the reference
    * window scores exactly 0 by construction, and the usual reading is
    * <0.1 stable / 0.1–0.25 drifting / >0.25 shifted.
    *
    * Oracle-exactness (the DSIR p9 recipe): every ln() input is an exact
    * integer and each factor is quantized to an integer grid immediately
    * (log-ratio at 1e-6, probability diff at 1e-9), so the per-window sum
    * is EXACT integer algebra — partition-order-invariant and
    * recomputable verbatim by DuckDB (`st17`'s oracle). PSI =
    * Σ dp_q·lr_q / 1e15 rounded to 6 decimals.
    *
    * Batch-twin caveat, stated plainly: here the bin universe and the
    * reference histogram come from the DATA (earliest window, observed
    * bins). A production stream freezes both at deploy time — the same
    * frozen-quantizer stance as the index families — and feeds each
    * closed window through this per batch.
    *
    * Scale: one shuffle to (window, bin) counts; windows × bins is tiny
    * by construction (bins ≤ metric range / binWidth), so every join
    * below is broadcast and the grid completion never touches the events
    * again.
    */
  def psiFromCounts(counts: DataFrame): DataFrame = {
    val bins = counts.select("bin").distinct()
    val grid = counts.select("window_start").distinct()
      .crossJoin(broadcast(bins))
    // complete the grid: a bin absent from a window still carries
    // smoothed mass (that asymmetry IS the drift signal)
    val full = grid.join(counts, Seq("window_start", "bin"), "left")
      .na.fill(0L, Seq("c"))
    val totals = full.groupBy("window_start").agg(sum(col("c")).as("t"))
    val withT = full.join(broadcast(totals), Seq("window_start"))
    val refStart = counts.agg(min(col("window_start")).as("__ref"))
    val ref = withT.join(broadcast(refStart), col("window_start") === col("__ref"))
      .select(col("bin"), col("c").as("c_ref"), col("t").as("t_ref"))
    val nb = bins.agg(count(lit(1)).as("nb"))
    withT.join(broadcast(ref), Seq("bin")).crossJoin(broadcast(nb))
      .select(col("window_start"),
        (round(((col("c") + 1) / (col("t") + col("nb"))
          - (col("c_ref") + 1) / (col("t_ref") + col("nb"))) * 1e9, 0).cast("long") *
          round((log(col("c") + 1) - log(col("t") + col("nb"))
            - log(col("c_ref") + 1) + log(col("t_ref") + col("nb"))) * 1e6, 0)
            .cast("long")).as("__term_q"))
      .groupBy("window_start")
      .agg(round(sum(col("__term_q")) / 1e15, 6).as("psi"))
  }

  /** Sliding-window event counts (width/slide). */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("n"))

  /** Session windows per user (gap-based). In streaming this is
    * `session_window`; the same call works in batch.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n"))

  /** Batch gaps-and-islands sessionization — the window-function
    * formulation of [[sessionCounts]] (used as its oracle twin; also the
    * shape for retro-sessionizing historical data where no streaming state
    * is wanted). One shuffle on user_id.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60L * 1000000L,
          1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** One user's open-session accumulator for [[statefulSessionize]]. */
  case class SessionState(start: Long, last: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Long, session_end: Long, n: Long)

  /** Custom stateful sessionization via `flatMapGroupsWithState`: closes a
    * user's session when the gap exceeds `gapMinutes` (or on event-time
    * timeout once the watermark passes), emitting one row per closed
    * session. This is the arbitrary-state API the built-in
    * `session_window` cannot express custom per-session logic with —
    * state is one small record per live user, partitioned by user_id.
    */
  def statefulSessionize(
      events: DataFrame,
      gapMinutes: Int = 30,
      watermark: String = "2 hours"): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => _}
    val gapUs = gapMinutes * 60L * 1000000L
    // keep the watermarked ts column itself — projecting it into a derived
    // long would strip the event-time tag EventTimeTimeout requires
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long").as("_1"), col("ts").as("_2"))
      .as[(Long, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          if (state.hasTimedOut) {
            state.getOption.foreach(s =>
              out += SessionOut(user, s.start, s.last, s.n))
            state.remove()
          } else {
            // full microseconds: getTime is ms-truncated, sub-ms lives in getNanos
            val sorted = rows.map { r =>
              val t = r._2
              (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
            }.toArray.sorted
            var cur = state.getOption
            for (ts <- sorted) {
              cur match {
                case Some(s) if ts - s.last <= gapUs =>
                  cur = Some(s.copy(last = ts, n = s.n + 1))
                case Some(s) =>
                  out += SessionOut(user, s.start, s.last, s.n)
                  cur = Some(SessionState(ts, ts, 1))
                case None =>
                  cur = Some(SessionState(ts, ts, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.last + gapUs) / 1000L)
            }
          }
          out.iterator
      }
  }

  /** One row of the conversation-memory table ([[graft.serve.SessionMemory]]). */
  case class MemoryTurn(session_id: String, turn: Long, role: String, content: String)
  case class MemCounter(nextTurn: Long, lastEventMs: Long)

  /** C1/C4 streaming variant: the reference's `ConversationBufferMemory`
    * (`/root/reference/micro-infobot/app.py:43-44,256`) as managed streaming
    * state keyed by session_id. Incoming messages
    * `(session_id, ts, role, content)` are assigned the next turn index for
    * their session — event-time order WITHIN each micro-batch (ties broken
    * by role then content), arrival order across batches. A late-but-within-
    * watermark message therefore gets a turn AFTER messages already emitted
    * (turns are append-only, matching the reference's
    * ConversationBufferMemory arrival semantics); the batch twin equals the
    * streaming output exactly when messages arrive in event-time order,
    * which is what the st6 oracle exercises.
    *
    * Scale: state per live session is ONE counter — the conversation text
    * itself lives in the append sink, not in state — so state size is
    * O(active sessions) and idle sessions are evicted by event-time timeout
    * once the watermark passes their last turn by `idleTimeout`. The same
    * call works on a batch frame (state starts empty, one group call per
    * session), which is the oracle twin.
    */
  def streamingMemory(
      messages: DataFrame,
      watermark: String = "2 hours",
      idleTimeoutHours: Int = 24): org.apache.spark.sql.Dataset[MemoryTurn] = {
    import messages.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val typed = messages
      .withWatermark("ts", watermark)
      .select(col("session_id").cast("string").as("_1"), col("ts").as("_2"),
        col("role").cast("string").as("_3"), col("content").cast("string").as("_4"))
      .as[(String, java.sql.Timestamp, String, String)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[MemCounter, MemoryTurn](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (sid: String,
         rows: Iterator[(String, java.sql.Timestamp, String, String)],
         state: GroupState[MemCounter]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var next = state.getOption.map(_.nextTurn).getOrElse(0L)
            // full-microsecond ordering (getTime is ms-truncated)
            val sorted = rows.toArray.sortBy { r =>
              val t = r._2
              ((t.getTime / 1000L) * 1000000L + t.getNanos / 1000L, r._3, r._4)
            }
            val out = sorted.map { r =>
              val turn = MemoryTurn(sid, next, r._3, r._4)
              next += 1
              turn
            }
            // timeout anchored to the session's LAST TURN, not the current
            // watermark — watermark-anchored timeouts expire live sessions
            // between micro-batches (and getCurrentWatermarkMs throws in
            // batch mode, where this function doubles as the oracle twin)
            val lastMs = sorted.lastOption.map(_._2.getTime)
              .getOrElse(state.getOption.map(_.lastEventMs).getOrElse(0L))
            state.update(MemCounter(next, lastMs))
            state.setTimeoutTimestamp(lastMs + idleTimeoutHours * 3600L * 1000L)
            out.iterator
          }
      }
  }

  /** Open a directory of event parquet files as a file stream — the
    * landing-zone shape a production ingest watches. One-file-per-trigger
    * caps local test batches; schema is pinned from an existing file (file
    * streams cannot infer).
    */
  def eventsStream(spark: SparkSession, watchDir: String, schemaFrom: String): DataFrame = {
    val schema = spark.read.parquet(schemaFrom).schema
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(watchDir)
    // fixture ts is TIMESTAMP(NANOS) read as long (nanosAsLong); normalize
    // to a microsecond timestamp exactly like the batch reader
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Stream-stream interval join: attribute each purchase to the same
    * user's views in the preceding `windowMinutes`. Both sides carry
    * watermarks so Spark can bound join state (views older than purchase
    * watermark + window are evicted) — the canonical watermarked
    * stream-stream join shape.
    *
    * `joinType = "left_outer"` additionally emits purchases with NO view in
    * the window (null view columns) — in streaming these surface once the
    * watermark passes `purchase_ts + window`, i.e. when the match can no
    * longer arrive; in batch they surface immediately. State stays
    * watermark-bounded either way.
    */
  def purchaseAttribution(
      purchases: DataFrame,
      views: DataFrame,
      windowMinutes: Int = 60,
      watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val v = views.withWatermark("ts", watermark)
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("view_ts"))
    p.join(v,
      col("user_id") === col("v_user_id") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("purchase_value"), col("view_id"), col("view_ts"))
  }

  /** Stream-static enrichment join: the static side is broadcast to every
    * micro-batch; no stream state, no watermark needed. The standard shape
    * for dimension lookup on a live stream.
    */
  def enrichWithDims(stream: DataFrame, dims: DataFrame,
      key: String): DataFrame =
    stream.join(broadcast(dims), Seq(key), "left")

  /** Streaming exact dedup on a key within the watermark horizon —
    * the streaming arm of [[Dedup.dedupExact]] for a training-data intake
    * pipeline (state holds one entry per key seen inside the horizon, so
    * memory is bounded by arrival rate × watermark).
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keyCols)
    else
      // batch twin: Spark refuses dropDuplicatesWithinWatermark outside a
      // stream, and in batch the horizon is vacuous (all data in hand) —
      // plain key dedup IS the within-watermark semantics
      events.dropDuplicates(keyCols)

  /** C5 streaming variant: append-mode parquet sink with checkpoint. */
  def chatLogSink(rows: DataFrame, path: String,
      checkpoint: String): DataStreamWriter[Row] =
    rows.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())

  /** C5 streaming variant on the `day=`-partitioned layout, with
    * RETENTION riding the loop (round-14 verdict #6 — only affordable now
    * that [[graft.serve.ChatLog.pruneBefore]] is a partition drop, not a
    * full-log rewrite): each micro-batch appends through
    * [[graft.serve.ChatLog.append]] behind a `_batches` ledger (the
    * [[graft.ops.Layout.ledgeredBatch]] exactly-once convention —
    * `foreachBatch` writes no `_spark_metadata`, so the log stays
    * maintainable, unlike the [[chatLogSink]] FileStreamSink whose pinned
    * file set refuses every rewrite), and every `pruneEvery`-th batch
    * advances the horizon to the batch's own newest stamp minus
    * `retainFor` — the stream's own clock, deterministic under replay (no
    * wall time), monotone by the marker law. A batch with no stamped rows
    * skips the poll; a non-positive horizon skips it too (start-up, when
    * the stream is younger than the retention window).
    */
  def chatLogSinkPartitioned(
      rows: DataFrame,
      path: String,
      checkpoint: String,
      dayWidth: Long = graft.serve.ChatLog.DefaultDayWidth,
      retainFor: Option[Long] = None,
      pruneEvery: Int = 16,
      tsCol: String = "ts",
      maintenance: Option[graft.ops.Layout.MaintenancePolicy] = None): DataStreamWriter[Row] = {
    require(pruneEvery > 0,
      s"chatLogSinkPartitioned: pruneEvery $pruneEvery must be > 0")
    // eager, like the sibling params: a bad value must refuse at sink
    // construction, not kill the running stream from inside its first
    // micro-batch (after the checkpoint already exists)
    retainFor.foreach { keep =>
      require(keep > 0, s"chatLogSinkPartitioned: retainFor $keep must be > 0")
    }
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        graft.ops.Layout.ledgeredBatch(s, s"$path/_batches", batchId) {
          graft.serve.ChatLog.append(batch, path, dayWidth, tsCol)
        }
        // retention + the hot-day file fold ride OUTSIDE the ledger body:
        // both are idempotent and value-invisible on their own, so a
        // replayed batch re-polling them is harmless (and a
        // ledger-skipped batch still keeps the horizon advancing)
        retainFor.foreach { keep =>
          if (batchId % pruneEvery == 0) {
            val mx = batch.agg(max(graft.serve.ChatLog.tsLong(batch, tsCol)))
              .head
            if (!mx.isNullAt(0) && mx.getLong(0) - keep > 0) {
              graft.serve.ChatLog.pruneBefore(s, path, mx.getLong(0) - keep,
                tsCol)
              ()
            }
          }
        }
        // each micro-batch lands one file per touched day — without the
        // fold the HOT day accumulates forever (the memory table's
        // per-turn accumulation, log-side)
        maintenance.foreach { pol =>
          if (batchId % pruneEvery == 0) {
            graft.serve.ChatLog.compactSmallDayFiles(s, path, pol)
            ()
          }
        }
        ()
      }
  }

  // -------------------- transformWithState token-budget intake (Spark 4)

  /** One admitted document of [[tokenBudgetIntake]]. */
  case class AdmittedDoc(source: String, doc_id: Long, n_tokens: Long,
      running_total: Long)

  /** Per-source running token total as Spark 4 `transformWithState` state:
    * ONE `ValueState[Long]` per live source — O(sources), never O(docs).
    * Docs within a group call are admitted in doc_id order (a micro-batch
    * is an unordered set; the sort makes replays of the same batch
    * deterministic); across batches admission is arrival order, which is
    * what a live intake means.
    */
  class TokenBudgetProcessor(budgets: Map[String, Long])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long), AdmittedDoc] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.streaming.OutputMode
    @transient private var total: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(source: String,
        rows: Iterator[(String, Long, Long)],
        timers: TimerValues): Iterator[AdmittedDoc] = {
      val budget = budgets.getOrElse(source, 0L)
      var t = if (total.exists()) total.get() else 0L
      // The sort materializes one source's slice of one micro-batch — on a
      // stream that is bounded by the trigger (cap it with maxFilesPerTrigger
      // / maxOffsetsPerTrigger); it is NOT the whole source's history. The
      // batch twin does hold a full source in one call — at corpus scale use
      // TrainingData.tokenMixture, which stays in column algebra.
      // Materialize BEFORE the state update so `t` is final when written.
      val admitted = rows.toArray.sortBy(_._2).flatMap { case (_, id, toks) =>
        if (t < budget) { t += toks; Some(AdmittedDoc(source, id, toks, t)) }
        else None
      }
      total.update(t)
      admitted.iterator
    }
  }

  /** Streaming twin of [[TrainingData.tokenMixture]]: admit documents per
    * source while the source's cumulative TOKEN total is under budget
    * (exclusive-prefix rule — the doc that crosses the budget is admitted,
    * later ones are not), built on Spark 4's `transformWithState` — the
    * arbitrary-state successor to `flatMapGroupsWithState` (typed state
    * handles, TTL support, RocksDB-backed stores).
    *
    * On a STREAM this is the live intake valve: sources stop admitting the
    * moment their budget fills, state survives across micro-batches, and a
    * restart resumes from the checkpointed totals (the query needs the
    * RocksDB state store provider, the only one transformWithState
    * supports). On a BATCH frame the same operator runs with empty initial
    * state and one group call per source — doc_id order, exactly one
    * deterministic answer — which is the `st8` oracle twin. The batch-mode
    * [[TrainingData.tokenMixture]] differs only in its md5 selection
    * order: totals and the overshoot-by-at-most-one-doc contract agree.
    */
  def tokenBudgetIntake(
      docs: DataFrame,
      budgets: Map[String, Long],
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source"): org.apache.spark.sql.Dataset[AdmittedDoc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    // Batch-mode transformWithState loads a state store, and the store's
    // executor side phones the driver's StateStoreCoordinator RPC endpoint
    // — which is created lazily by StreamingQueryManager.stateStoreCoordinator
    // the first time a STREAMING query starts. In a batch-only session the
    // endpoint doesn't exist and the lookup dies with
    // CANNOT_LOAD_STATE_STORE (RpcEndpointNotFoundException). Touch the
    // lazy val up front (bytecode-public, compile-time private[sql] — hence
    // reflection) so the batch twin runs in any session.
    locally {
      val sqm = docs.sparkSession.streams
      try sqm.getClass.getMethod("stateStoreCoordinator").invoke(sqm)
      catch {
        case e: Throwable =>
          throw new IllegalStateException(
            "tokenBudgetIntake assumes Spark 4.1.x's private[sql] lazy val " +
              "StreamingQueryManager.stateStoreCoordinator (reflectively " +
              "touched so batch-mode transformWithState can reach the state " +
              "store coordinator). This Spark version appears to have " +
              "renamed/removed it — update the reflection, or run the " +
              "intake as a real streaming query instead.", e)
      }
    }
    docs.select(col(sourceCol).cast("string").as("_1"),
        col(idCol).cast("long").as("_2"),
        TextAnalytics.tokenCount(col(textCol)).as("_3"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TokenBudgetProcessor(budgets),
        TimeMode.None(), OutputMode.Append())
  }
}
