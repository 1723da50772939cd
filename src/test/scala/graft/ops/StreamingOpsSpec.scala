package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private lazy val events = Seq(
    (1L, ts("2024-01-01 00:05:00"), 1L, "click", 1.0),
    (2L, ts("2024-01-01 00:20:00"), 1L, "view", 2.0),
    (3L, ts("2024-01-01 01:10:00"), 1L, "click", 3.0),   // >30min gap: new session
    (4L, ts("2024-01-01 00:10:00"), 2L, "view", 4.0),
    (5L, ts("2024-01-01 02:00:00"), 2L, "click", 5.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("tumbling window counts align to the hour") {
    val got = StreamingOps.tumblingCounts(events)
      .select(date_format($"window_start", "HH:mm").as("w"), $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("00:00", "click", 1L), ("00:00", "view", 2L),
      ("01:00", "click", 1L), ("02:00", "click", 1L)))
  }

  test("distribution drift: ref window scores 0; shifted window outranks stable; hand PSI") {
    // three daily windows over one metric: day 1 = reference
    // (8 low / 2 high), day 2 same shape (stable), day 3 inverted
    // (2 low / 8 high — the drifted crawl)
    def day(d: Int, lows: Int, highs: Int) =
      (0 until lows).map(i => (ts(f"2024-01-0$d 01:00:0$i"), 10.0)) ++
        (0 until highs).map(i => (ts(f"2024-01-0$d 02:00:0$i"), 90.0))
    val ev = (day(1, 8, 2) ++ day(2, 8, 2) ++ day(3, 2, 8))
      .toDF("ts", "value")
    val psi = StreamingOps.psiFromCounts(
      StreamingOps.driftCounts(ev, binWidth = 50.0))
      .select(date_format($"window_start", "dd").as("d"), $"psi")
      .as[(String, Double)].collect().toMap
    assert(psi("01") == 0.0, "reference window must score exactly 0")
    assert(psi("02") == 0.0, "identically-shaped window must score exactly 0")
    assert(psi("03") > 0.25, s"inverted window must read as shifted: ${psi("03")}")
    // hand recomputation of day 3 through the same quantized algebra:
    // bins {0, 1}, B=2, smoothed p = (c+1)/(T+B) with T=10
    def psiOf(cs: Seq[Long], rs: Seq[Long]): Double = {
      val b = cs.size
      val (t, tr) = (cs.sum, rs.sum)
      val q = cs.zip(rs).map { case (c, r) =>
        val dp = math.round(((c + 1).toDouble / (t + b) -
          (r + 1).toDouble / (tr + b)) * 1e9)
        val lr = math.round((math.log(c + 1.0) - math.log(t + b.toDouble) -
          math.log(r + 1.0) + math.log(tr + b.toDouble)) * 1e6)
        dp * lr
      }.sum
      BigDecimal(q / 1e15).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(psi("03") == psiOf(Seq(2L, 8L), Seq(8L, 2L)),
      "engine PSI must equal the hand-quantized recomputation")
  }

  test("streamingDriftAlerts: closed shifted window alerts, stable window stays silent") {
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_drift_sink").toString
    // frozen reference: 8 low / 2 high (the deploy-time histogram)
    val ref = Seq((0L, 8L), (1L, 2L)).toDF("bin", "c")
    val mem = MemoryStream[(Timestamp, Double)]
    val q = StreamingOps.streamingDriftAlerts(
      mem.toDF().toDF("ts", "value"), ref, s"$tmp/alerts", s"$tmp/ckpt",
      threshold = 0.25, watermark = "0 seconds").start()
    try {
      def day(d: Int, lows: Int, highs: Int) =
        (0 until lows).map(i => (ts(f"2024-01-0$d 01:00:0$i"), 10.0)) ++
          (0 until highs).map(i => (ts(f"2024-01-0$d 02:00:0$i"), 90.0))
      mem.addData(day(1, 8, 2) ++ day(2, 2, 8): _*) // day1 stable, day2 inverted
      q.processAllAvailable()
      mem.addData(day(3, 1, 0): _*) // advances the watermark past day 1+2
      q.processAllAvailable()
      val alerts = spark.read.parquet(s"$tmp/alerts")
        .select(date_format($"window_start", "dd").as("d"), $"psi")
        .as[(String, Double)].collect().toMap
      assert(alerts.contains("02"), s"inverted day must alert: $alerts")
      assert(alerts("02") > 0.25)
      assert(!alerts.contains("01"), s"reference-shaped day must not alert: $alerts")
    } finally q.stop()
  }

  test("psiVsReference: window scoring is batch-composition-independent") {
    // the same window scores identically whether it arrives alone or
    // alongside others — the per-window universe law
    val w1 = Seq((ts("2024-01-01 00:00:00"), 0L, 2L), (ts("2024-01-01 00:00:00"), 1L, 8L))
      .toDF("window_start", "bin", "c")
    val w2 = Seq((ts("2024-01-02 00:00:00"), 5L, 4L))
      .toDF("window_start", "bin", "c")
    val ref = Seq((0L, 8L), (1L, 2L)).toDF("bin", "c")
    val alone = StreamingOps.psiVsReference(w1, ref)
      .select($"psi").as[Double].head()
    val together = StreamingOps.psiVsReference(w1.unionByName(w2), ref)
      .where($"window_start" === ts("2024-01-01 00:00:00"))
      .select($"psi").as[Double].head()
    assert(alone == together,
      "a window's PSI must not depend on which other windows share the batch")
  }

  test("driftCounts is a legal incremental streaming aggregate") {
    implicit val sqlC = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val q = StreamingOps.driftCounts(mem.toDF().toDF("ts", "value"))
      .writeStream.format("memory").queryName("drift_counts")
      .outputMode("update").start()
    try {
      mem.addData((ts("2024-01-01 01:00:00"), 10.0), (ts("2024-01-01 02:00:00"), 90.0))
      q.processAllAvailable()
      val got = spark.table("drift_counts")
        .select($"bin", $"c").as[(Long, Long)].collect().toSet
      assert(got == Set((0L, 1L), (1L, 1L)))
    } finally q.stop()
  }

  test("sliding windows produce overlapping membership") {
    val got = StreamingOps.slidingCounts(events)
      .select(date_format($"window_start", "HH:mm").as("w"), $"n")
      .as[(String, Long)].collect().toMap
    // event at 00:05 belongs to windows starting 23:30 and 00:00
    assert(got("00:00") == 3L) // 00:05, 00:10, 00:20
    assert(got("23:30") == 3L) // same three (all < 00:30)
  }

  test("batch sessionize splits on the 30-minute gap") {
    val got = StreamingOps.sessionize(events)
      .select($"user_id", $"session_seq", $"n")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L), (2L, 2L, 1L)))
  }

  test("session_window batch agrees with gaps-and-islands on counts") {
    val sw = StreamingOps.sessionCounts(events)
      .select($"user_id", $"n").as[(Long, Long)].collect().toSeq.sorted
    val gi = StreamingOps.sessionize(events)
      .select($"user_id", $"n").as[(Long, Long)].collect().toSeq.sorted
    assert(sw == gi)
  }

  test("trending terms: batch twin ranks per window with term ties") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:10:00"), """{"k": 7}"""),
      (2L, ts("2024-01-01 01:10:00"), """{"k": 7}"""),
      (3L, ts("2024-01-01 02:10:00"), """{"k": 9}"""),
      (4L, ts("2024-01-01 03:10:00"), """{"k": 9}"""),
      (5L, ts("2024-01-01 04:10:00"), """{"k": 3}"""),
      (6L, ts("2024-01-01 06:10:00"), """{"k": 5}"""),
      (7L, ts("2024-01-01 06:20:00"), null)
    ).toDF("event_id", "ts", "props")
    val got = StreamingOps.rankTrending(
      StreamingOps.trendingCounts(ev), topN = 2)
      .select(date_format($"window_start", "HH:mm").as("w"), $"rank", $"term", $"n")
      .as[(String, Int, String, Long)].collect().toSet
    // window 00:00-06:00: 7x2, 9x2, 3x1 -> top-2 are 7 then 9 (count tie,
    // term "7" < "9"); window 06:00: only 5x1; null props dropped
    assert(got == Set(
      ("00:00", 1, "7", 2L), ("00:00", 2, "9", 2L), ("06:00", 1, "5", 1L)))
  }

  test("trending counts run as an incremental streaming aggregate") {
    implicit val sqlC = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("event_id", "ts", "props")
    val agg = StreamingOps.trendingCounts(df, width = "1 hour",
      watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("trending_test")
      .outputMode("update").start()
    try {
      mem.addData((1L, ts("2024-01-01 00:05:00"), """{"k": 1}"""))
      mem.addData((2L, ts("2024-01-01 00:25:00"), """{"k": 1}"""))
      q.processAllAvailable()
      val counts = spark.table("trending_test")
        .select($"term", $"n").as[(String, Long)].collect()
      // incremental: the (window, term) count reflects both micro-batches
      assert(counts.contains(("1", 2L)), s"got ${counts.toSeq}")
    } finally q.stop()
  }

  test("streaming tumbling aggregation over MemoryStream with watermark") {
    implicit val sqlC = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val agg = StreamingOps.tumblingCounts(df, watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("tumbling_test")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 00:05:00"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 00:20:00"), 1L, "click", 2.0))
      q.processAllAvailable()
      // watermark advances past 00:00+1h window only after later data
      mem.addData((3L, ts("2024-01-01 03:00:00"), 1L, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .select(date_format($"window_start", "HH:mm").as("w"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(rows.contains(("00:00", "click", 2L)))
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped in streaming mode") {
    implicit val sqlC = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val agg = StreamingOps.tumblingCounts(df, watermark = "30 minutes")
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      mem.addData((2L, ts("2024-01-01 05:00:00"), 1L, "view", 2.0))
      q.processAllAvailable()
      // hours late: its 00:00 window is already finalized and emitted
      mem.addData((3L, ts("2024-01-01 00:15:00"), 1L, "click", 9.0))
      q.processAllAvailable()
      val n = spark.table("late_test")
        .where(date_format($"window_start", "HH:mm") === "00:00")
        .agg(sum($"n")).as[Long].head()
      assert(n == 1L, "late row must not re-open the finalized window")
    } finally q.stop()
  }

  test("events file stream reads the fixture with normalized timestamps") {
    val watch = tempDir("graft_events").toString
    Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(watch, "events.parquet"))
    val stream = StreamingOps.eventsStream(spark, watch,
      "/root/testdata/sf0.001/events.parquet")
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val agg = StreamingOps.tumblingCounts(stream, watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("events_stream_test")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val n = spark.table("events_stream_test").agg(sum($"n")).as[Long].head()
      assert(n == 1000L) // all sf0.001 events flowed through the stream
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap and timeout") {
    implicit val sqlC = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val df = mem.toDF().toDF("user_id", "ts")
    val sessions = StreamingOps.statefulSessionize(df, gapMinutes = 30,
      watermark = "1 minute")
    val q = sessions.toDF().writeStream.format("memory")
      .queryName("stateful_sessions").outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      // gap > 30min within the same user closes the first session inline
      mem.addData((1L, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      // advance watermark far past the open session's timeout
      mem.addData((2L, ts("2024-01-01 06:00:00")))
      q.processAllAvailable()
      mem.addData((2L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val rows = spark.table("stateful_sessions")
        .select($"user_id", $"n").as[(Long, Long)].collect().toSet
      assert(rows.contains((1L, 2L)), s"first session (2 events) missing: $rows")
      assert(rows.contains((1L, 1L)), s"timed-out session missing: $rows")
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to recent views") {
    implicit val sqlC = spark.sqlContext
    val vMem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val pMem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val joined = StreamingOps.purchaseAttribution(
      pMem.toDF().toDF(cols: _*), vMem.toDF().toDF(cols: _*), windowMinutes = 60)
    val q = joined.writeStream.format("memory").queryName("attribution")
      .outputMode("append").start()
    try {
      vMem.addData(
        (1L, ts("2024-01-01 00:10:00"), 7L, "view", 0.0),   // inside window
        (2L, ts("2024-01-01 00:50:00"), 7L, "view", 0.0),   // inside window
        (3L, ts("2023-12-31 22:00:00"), 7L, "view", 0.0),   // too old
        (4L, ts("2024-01-01 00:30:00"), 8L, "view", 0.0))   // other user
      pMem.addData((10L, ts("2024-01-01 01:00:00"), 7L, "purchase", 99.0))
      q.processAllAvailable()
      val got = spark.table("attribution")
        .select($"purchase_id", $"view_id").as[(Long, Long)].collect().toSet
      assert(got == Set((10L, 1L), (10L, 2L)), s"got $got")
    } finally q.stop()
  }

  test("outer stream-stream join emits unmatched purchases at watermark expiry") {
    implicit val sqlC = spark.sqlContext
    val pm = MemoryStream[(Long, Timestamp, Long, Double)]
    val vm = MemoryStream[(Long, Timestamp, Long)]
    val purchases = pm.toDF().toDF("event_id", "ts", "user_id", "value")
    val views = vm.toDF().toDF("event_id", "ts", "user_id")
    val joined = StreamingOps.purchaseAttribution(purchases, views,
      windowMinutes = 60, watermark = "10 minutes", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("outer_attr")
      .outputMode("append").start()
    try {
      // purchase with NO view in its window; a matched purchase as control
      pm.addData(
        (1L, ts("2024-01-01 00:00:00"), 1L, 9.99),
        (2L, ts("2024-01-01 00:30:00"), 2L, 5.00))
      vm.addData((10L, ts("2024-01-01 00:10:00"), 2L))
      q.processAllAvailable()
      // advance both watermarks far past purchase_ts + window so the
      // unmatched row can be finalized (needs a following batch to apply)
      pm.addData((3L, ts("2024-01-01 06:00:00"), 9L, 1.0))
      vm.addData((11L, ts("2024-01-01 06:00:00"), 9L))
      q.processAllAvailable()
      pm.addData((4L, ts("2024-01-01 07:00:00"), 9L, 1.0))
      vm.addData((12L, ts("2024-01-01 07:00:00"), 9L))
      q.processAllAvailable()
      val rows = spark.table("outer_attr")
        .select($"purchase_id", $"view_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((2L, 10L)), s"matched purchase missing: $rows")
      assert(rows.contains((1L, -1L)),
        s"unmatched purchase must emit with null view after watermark: $rows")
    } finally q.stop()
  }

  test("stream-static join enriches micro-batches from a broadcast dim") {
    implicit val sqlC = spark.sqlContext
    val dims = Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue")).toDF("event_type", "category")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = StreamingOps.enrichWithDims(stream, dims, "event_type")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-01 00:00:00"), "click"),
        (2L, ts("2024-01-01 00:01:00"), "error"))
      q.processAllAvailable()
      val got = spark.table("enriched")
        .select($"event_id", $"category").as[(Long, Option[String])]
        .collect().toMap
      assert(got == Map(1L -> Some("engagement"), 2L -> None))
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys within the watermark") {
    implicit val sqlC = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = StreamingOps.streamingDedup(stream, Seq("event_id"), "1 hour")
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-01 00:00:00"), "click"))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 00:05:00"), "click"), // dup key
        (2L, ts("2024-01-01 00:06:00"), "view"))
      q.processAllAvailable()
      val ids = spark.table("deduped").select($"event_id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L), s"dup survived: $ids")
    } finally q.stop()
    // batch twin (the st9 arm): same entry point, plain key dedup
    val batch = Seq(
      (1L, ts("2024-01-01 00:00:00"), "click"),
      (1L, ts("2024-01-01 00:00:00"), "click"),
      (2L, ts("2024-01-01 00:06:00"), "view"))
      .toDF("event_id", "ts", "event_type")
    val got = StreamingOps.streamingDedup(batch, Seq("event_id"))
      .select($"event_id").as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 2L), s"batch twin wrong: $got")
  }

  test("streaming session memory: interleaved sessions reproduce the batch table") {
    implicit val sqlC = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, String, String)]
    val df = mem.toDF().toDF("session_id", "ts", "role", "content")
    val q = StreamingOps.streamingMemory(df, watermark = "10 minutes").toDF()
      .writeStream.format("memory").queryName("memory_test")
      .outputMode("append").start()
    try {
      // batch 1: turns of two sessions interleaved
      mem.addData(
        ("s1", ts("2024-01-01 00:00:01"), "user", "hi"),
        ("s2", ts("2024-01-01 00:00:02"), "user", "hola"),
        ("s1", ts("2024-01-01 00:00:03"), "assistant", "hello"))
      q.processAllAvailable()
      // batch 2: counters must continue where each session left off
      mem.addData(
        ("s2", ts("2024-01-01 00:00:04"), "assistant", "buenas"),
        ("s1", ts("2024-01-01 00:00:05"), "user", "how are you"))
      q.processAllAvailable()
      val got = spark.table("memory_test")
        .as[(String, Long, String, String)].collect().toSet
      assert(got == Set(
        ("s1", 0L, "user", "hi"),
        ("s1", 1L, "assistant", "hello"),
        ("s1", 2L, "user", "how are you"),
        ("s2", 0L, "user", "hola"),
        ("s2", 1L, "assistant", "buenas")))
    } finally q.stop()
  }

  test("streamingMemory in batch mode equals the window-rank memory table") {
    val msgs = Seq(
      ("a", ts("2024-01-01 00:00:02"), "assistant", "r1"),
      ("a", ts("2024-01-01 00:00:01"), "user", "q1"),
      ("b", ts("2024-01-01 00:00:01"), "user", "q2"),
      ("a", ts("2024-01-01 00:00:03"), "user", "q3")
    ).toDF("session_id", "ts", "role", "content")
    val got = StreamingOps.streamingMemory(msgs).toDF()
      .as[(String, Long, String, String)].collect().toSet
    assert(got == Set(
      ("a", 0L, "user", "q1"),
      ("a", 1L, "assistant", "r1"),
      ("a", 2L, "user", "q3"),
      ("b", 0L, "user", "q2")))
  }

  test("stateless curation gate (quality score) runs unchanged on a stream") {
    implicit val sqlC = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    // the same column expression that curates the batch corpus — stateless,
    // so it applies to a streaming intake with zero changes
    val gated = df
      .withColumn("q", TextAnalytics.qualityScore($"text"))
      .where($"q" >= 0.6)
    val q = gated.writeStream.format("memory").queryName("quality_gate")
      .outputMode("append").start()
    try {
      val good = ("A reasonably long and well punctuated sentence about " +
        "the weather conditions we observed today. ") * 8
      mem.addData((1L, good), (2L, "!!! ### $$$ %%%"))
      q.processAllAvailable()
      val ids = spark.table("quality_gate").select("doc_id").as[Long].collect().toSeq
      assert(ids == Seq(1L), s"quality gate kept $ids")
    } finally q.stop()
  }

  test("streaming intake: quality gate + signature dedup on a live stream") {
    implicit val sqlC = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = CorpusPipeline.streamingIntake(df, minQuality = 0.6)
      .writeStream.format("memory").queryName("intake_test")
      .outputMode("append").start()
    try {
      val good = ("A reasonably long and well punctuated paragraph about " +
        "observed weather conditions in the region today. ") * 8
      val reordered = good.toUpperCase // same tokens after lowercasing
      val other = ("Another entirely different body of text describing " +
        "agricultural yields and their seasonal variation in detail. ") * 8
      mem.addData(
        (1L, ts("2024-01-01 00:00:01"), good),
        (2L, ts("2024-01-01 00:00:02"), "!!! ### $$$"), // junk: gated out
        (3L, ts("2024-01-01 00:00:03"), reordered),     // near-dup: same signature
        (4L, ts("2024-01-01 00:00:04"), other))         // distinct: kept
      q.processAllAvailable()
      val kept = spark.table("intake_test").select($"doc_id").as[Long]
        .collect().toSet
      assert(kept == Set(1L, 4L), s"intake kept $kept")
    } finally q.stop()
  }

  test("streaming intake with scrub: masked + line-cleaned before the gate") {
    implicit val sqlC = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = CorpusPipeline.streamingIntake(df, minQuality = 0.5,
        scrub = true, c4MinWords = 3)
      .writeStream.format("memory").queryName("intake_scrub_test")
      .outputMode("append").start()
    try {
      val prose = ("A reasonably long and well punctuated paragraph about " +
        "observed weather conditions in the region today. ") * 8
      mem.addData(
        (1L, ts("2024-01-01 00:00:01"),
          s"MENU HOME\n$prose Reach ops@corp.example for details.\nSign up"),
        (2L, ts("2024-01-01 00:00:02"), "HOME\nABOUT\nBuy now")) // chrome-only
      q.processAllAvailable()
      val rows = spark.table("intake_scrub_test")
        .select($"doc_id", $"text").as[(Long, String)].collect().toMap
      assert(rows.keySet == Set(1L), s"kept ${rows.keySet}")
      assert(rows(1L).contains("<EMAIL>") && !rows(1L).contains("MENU"),
        "stored text is the cleaned, masked version")
    } finally q.stop()
  }

  test("streaming index sink: micro-batches append; re-delivery converges") {
    implicit val sqlC = spark.sqlContext
    val path = tempDir("graft_stream_idx").toString + "/idx"
    val ckpt = tempDir("graft_stream_ckpt").toString
    val base = Seq((100L,
      "SECTION BASE\n\nseed paragraph about spark shuffles and joins"))
      .toDF("doc_id", "text")
    val embedder = graft.index.VectorIndex.fit(base)
    graft.index.VectorIndex.write(
      graft.index.VectorIndex.buildWith(base, embedder), path)

    val doc1 = "SECTION A\n\nfirst streamed document body"
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = CorpusPipeline.streamingIndexSink(df, path, embedder, ckpt).start()
    try {
      mem.addData((1L, doc1))
      q.processAllAvailable()
      // re-delivery of doc 1 (at-least-once upstream) + a new doc
      mem.addData((1L, doc1),
        (2L, "SECTION B\n\nsecond streamed document body"))
      q.processAllAvailable()
      val idx = graft.index.VectorIndex.load(spark, path)
      assert(idx.select("chunk_id").distinct().count() == idx.count(),
        "re-delivered batch must not duplicate chunks")
      assert(idx.where($"doc_id" === 2).count() > 0)
      val doc1Rows = idx.where($"doc_id" === 1).count()
      val expected = graft.index.VectorIndex
        .buildWith(Seq((1L, doc1)).toDF("doc_id", "text"), embedder).count()
      assert(doc1Rows == expected,
        s"doc 1 indexed $doc1Rows rows, expected $expected despite re-delivery")
    } finally q.stop()
  }

  test("streaming RAG serving answers a question stream from the static index") {
    implicit val sqlC = spark.sqlContext
    val out = tempDir("graft_rag_out").toString + "/answers"
    val ckpt = tempDir("graft_rag_ckpt").toString
    val corpus = Seq(
      (1L, "SECTION SPARK\n\nspark shuffles data between stages when grouping"),
      (2L, "SECTION DUCKS\n\nducks swim in the pond every morning")
    ).toDF("doc_id", "text")
    val embedder = graft.index.VectorIndex.fit(corpus)
    val index = graft.index.VectorIndex.buildWith(corpus, embedder).persist()
    val mem = MemoryStream[(Long, String)]
    val qs = mem.toDF().toDF("query_id", "question")
    val q = graft.serve.RagServing
      .streamingRagSink(qs, index, embedder, out, ckpt, k = 2).start()
    try {
      mem.addData((1L, "spark shuffles grouping"), (2L, "ducks pond swim"))
      q.processAllAvailable()
      val answers = spark.read.parquet(out)
        .select("query_id", "answer").as[(Long, String)].collect().toMap
      assert(answers.size == 2)
      assert(answers(1L).contains("spark shuffles data"),
        s"query 1 should ground in the spark chunk: ${answers(1L)}")
      assert(answers(2L).contains("ducks swim"),
        s"query 2 should ground in the ducks chunk: ${answers(2L)}")
    } finally q.stop()
  }

  test("chat-log streaming sink appends parquet rows") {
    implicit val sqlC = spark.sqlContext
    val out = tempDir("graft_chatlog").toString
    val ckpt = tempDir("graft_ckpt").toString
    val mem = MemoryStream[(String, String, String, Timestamp)]
    val rows = mem.toDF().toDF("user", "message", "response", "ts")
    val q = StreamingOps.chatLogSink(rows, out, ckpt).start()
    try {
      mem.addData(("u1", "hi", "hello", ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      val logged = spark.read.parquet(out)
      assert(logged.count() == 1)
      assert(logged.select("response").as[String].head() == "hello")
    } finally q.stop()
  }

  test("chatLogSinkPartitioned: a bad retainFor refuses at construction, not inside the first micro-batch") {
    import spark.implicits._
    val dummy = Seq(("u", "m", "r", 1L)).toDF("user", "message", "response", "ts")
    val e = intercept[IllegalArgumentException] {
      StreamingOps.chatLogSinkPartitioned(dummy, "/tmp/nope", "/tmp/nope_ck",
        retainFor = Some(-5L))
    }
    assert(e.getMessage.contains("retainFor"))
  }

  test("chatLogSinkPartitioned: ledgered day-layout appends; retention rides the loop, horizon-bounded log") {
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_chatlogp").toString
    val (out, ckpt) = (s"$tmp/log", s"$tmp/ckpt")
    val mem = MemoryStream[(String, String, String, Long)]
    val rows = mem.toDF().toDF("user", "message", "response", "ts")
    val q = StreamingOps.chatLogSinkPartitioned(rows, out, ckpt,
      dayWidth = 100L, retainFor = Some(150L), pruneEvery = 1).start()
    try {
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // batch 0: horizon (50 − 150) is non-positive — no prune at start-up
      mem.addData(("u1", "m0", "r", 10L), ("u2", "m1", "r", 50L))
      q.processAllAvailable()
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/day=0")),
        "appends must land day-partitioned")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/_batches/0")),
        "the append must be ledgered (no _spark_metadata pin)")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/_spark_metadata")))
      // batch 1: newest stamp 260 − 150 = horizon 110 → day 0 drops whole;
      // the stream's own log stays horizon-bounded with no external sweep
      mem.addData(("u1", "m2", "r", 260L))
      q.processAllAvailable()
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/day=0")),
        "the loop's own retention poll must drop the below-horizon day")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/day=2")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/_retention/110")),
        "the horizon must be recorded (marker-first law)")
      val left = spark.read.parquet(out).select("message")
        .as[String].collect().toSet
      assert(left == Set("m2"), s"horizon-bounded survivors: $left")
    } finally q.stop()
  }

  // ---------------------- transformWithState token-budget intake

  test("streamingCacheIntake: hits short-circuit, misses admitted, replayed micro-batch converges") {
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_sci").toString
    val (cache, out) = (s"$tmp/cache", s"$tmp/out")
    val v1 = Array(1.0f, 0.0f); val v2 = Array(0.0f, 1.0f); val v3 = Array(0.6f, 0.8f)
    // no pre-seeding: batch 0 bootstraps the store
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.ops.CorpusPipeline.streamingCacheIntake(
      mem.toDF().toDF("query_id", "query_vec"), cache, out, s"$tmp/ckpt").start()
    try {
      mem.addData(Seq((1L, v1), (2L, v2))) // batch 0: both admitted
      q.processAllAvailable()
      mem.addData(Seq((10L, v1), (11L, v3))) // batch 1: 10 hits 1's entry, 11 admitted
      q.processAllAvailable()
      val disp = spark.read.parquet(out)
        .select("batch", "query_id", "cache_id", "hit")
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
        .toMap
      assert(disp((0, 1L)) == (1000001L, false) && disp((0, 2L)) == (1000002L, false))
      assert(disp((1, 10L)) == (1000001L, true),
        s"batch 1 must hit batch 0's admission: $disp")
      assert(disp((1, 11L)) == (1000011L, false))
      assert(spark.read.parquet(cache).count() == 3)
      // at-least-once redelivery: re-run batch 1's EXACT foreachBatch body
      // (no ledger — intakeBatch itself must converge): dispositions
      // re-derived identically, the sink dir overwritten, no new entries
      graft.ops.CorpusPipeline.cacheIntakeBatchBody(spark,
        Seq((10L, v1), (11L, v3)).toDF("query_id", "query_vec"),
        cache, out, 1L, minCos = 0.95)
      val replayed = spark.read.parquet(out)
        .select("batch", "query_id", "cache_id", "hit")
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
        .toMap
      assert(replayed == disp, "a replayed micro-batch must re-derive identical dispositions")
      assert(spark.read.parquet(cache).count() == 3, "replay must not grow the cache")
    } finally q.stop()
  }

  test("streamingCacheIntake cacheMaxEntries: the store stays capped, FIFO by minted id") {
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_sci_cap").toString
    val (cache, out) = (s"$tmp/cache", s"$tmp/out")
    val vs = (1 to 5).map(i =>
      Array(math.cos(i * 0.9).toFloat, math.sin(i * 0.9).toFloat))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.ops.CorpusPipeline.streamingCacheIntake(
      mem.toDF().toDF("query_id", "query_vec"), cache, out, s"$tmp/ckpt",
      cacheMaxEntries = Some(3)).start()
    try {
      mem.addData(Seq((1L, vs(0)), (2L, vs(1)), (3L, vs(2))))
      q.processAllAvailable()
      assert(spark.read.parquet(cache).count() == 3)
      mem.addData(Seq((4L, vs(3)), (5L, vs(4))))
      q.processAllAvailable()
      val ids = spark.read.parquet(cache).select("cache_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1000003L, 1000004L, 1000005L),
        s"cap must evict the oldest-minted entries: $ids")
    } finally q.stop()
  }

  test("streamingNearDupIntake: corpus dups dropped, survivors admitted, state carries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_ndi").toString
    val store = s"$tmp/store"
    Dedup.writeMinhash(
      Seq((100L, "alpha beta gamma delta epsilon"),
        (101L, "one two three four five six")).toDF("doc_id", "text"),
      store, shingleSize = 1, numHashes = 128, bands = 32)
    val mem = MemoryStream[(Long, String)]
    val q = CorpusPipeline.streamingNearDupIntake(
      mem.toDF().toDF("doc_id", "text"), store, s"$tmp/out", s"$tmp/ckpt").start()
    try {
      // batch 0: one corpus dup (twin of 100), one novel, one in-batch twin
      // pair (2 < 3 → 3 drops)
      mem.addData(Seq(
        (1L, "alpha beta gamma delta epsilon"), // dup of stored 100 → dropped
        (2L, "completely novel content here"), //  admitted
        (3L, "completely novel content here"))) // in-batch twin of 2 → dropped
      q.processAllAvailable()
      // batch 1: a twin of batch-0 SURVIVOR 2 — the store must already
      // hold 2's signatures (sequential state), so 4 drops
      mem.addData(Seq(
        (4L, "completely novel content here"), // dup of admitted 2 → dropped
        (5L, "another fresh document entirely"))) // admitted
      q.processAllAvailable()
      val admitted = spark.read.parquet(s"$tmp/out")
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == Set(2L, 5L), s"admissions drifted: $admitted")
      // exactly-once under the ledger: both batch ids recorded once
      assert(graft.ops.Layout.ledgeredBatchIds(spark, s"$store/batches").size == 2)
      // the store grew by exactly the admissions
      assert(spark.read.parquet(s"$store/docs").select("doc_id")
        .as[Long].collect().toSet == Set(100L, 101L, 2L, 5L))
    } finally q.stop()
  }

  test("streamingNearDupIntake with a maintenance policy compacts the store mid-stream") {
    // the 6th maintained store (round-11 missing #1): an out-of-band
    // deleteMinhash lands in the sidecar; the NEXT micro-batch's policy
    // pass must fold it physically (maxTombstones = 0 — any dead id
    // makes compact due), and the freed identity must be re-admittable
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlC = spark.sqlContext
    val tmp = tempDir("graft_ndi_mx").toString
    val store = s"$tmp/store"
    Dedup.writeMinhash(
      Seq((100L, "alpha beta gamma delta epsilon"),
        (101L, "one two three four five six")).toDF("doc_id", "text"),
      store, shingleSize = 1, numHashes = 128, bands = 32)
    Dedup.deleteMinhash(spark, store, Seq(100L))
    val policy = graft.ops.Layout.MaintenancePolicy(
      maxSegments = 1000, maxTombstones = 0, maxSmallFiles = 100000)
    val mem = MemoryStream[(Long, String)]
    val q = CorpusPipeline.streamingNearDupIntake(
      mem.toDF().toDF("doc_id", "text"), store, s"$tmp/out", s"$tmp/ckpt",
      maintenance = Some(policy)).start()
    try {
      // the twin of DELETED 100 must be admitted (its signatures left the
      // store), and the batch's own maintenance pass folds the sidecar
      mem.addData(Seq((1L, "alpha beta gamma delta epsilon")))
      q.processAllAvailable()
      val admitted = spark.read.parquet(s"$tmp/out")
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == Set(1L), s"the deleted identity must re-admit: $admitted")
      val status = graft.ops.Layout.maintenanceDue(spark, store, policy)
      assert(status.tombstones == 0 && !status.compactDue,
        s"the sink must have compacted the sidecar away: $status")
      assert(spark.read.parquet(s"$store/docs").select("doc_id")
        .as[Long].collect().toSet == Set(101L, 1L),
        "compact must purge the deleted doc physically, appends intact")
    } finally q.stop()
  }

  test("tokenBudgetIntake batch twin: exclusive-prefix rule in doc_id order") {
    val docs = Seq(
      (1L, "one two three", "a"),        // 3 tokens, total 3
      (2L, "four five six seven", "a"),  // 4 tokens, total 7 — crosses 6, admitted
      (3L, "eight nine", "a"),           // before=7 >= 6 → rejected
      (4L, "only doc", "b"),             // unmapped source → budget 0, rejected
      (5L, "ten", "c")                   // budget 1: before=0 < 1 → admitted
    ).toDF("doc_id", "text", "source")
    val out = StreamingOps.tokenBudgetIntake(
        docs, Map("a" -> 6L, "c" -> 1L))
      .collect().map(a => (a.source, a.doc_id, a.n_tokens, a.running_total)).toSet
    assert(out == Set(("a", 1L, 3L, 3L), ("a", 2L, 4L, 7L), ("c", 5L, 1L, 1L)))
  }

  test("transformWithState intake: budget state survives across micro-batches") {
    implicit val sqlC = spark.sqlContext
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // transformWithState supports only the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "text", "source")
    val q = StreamingOps.tokenBudgetIntake(docs, Map("a" -> 6L)).toDF()
      .writeStream.format("memory").queryName("tws_intake")
      .outputMode("append").start()
    try {
      mem.addData((1L, "one two three", "a"))          // total 3 < 6
      q.processAllAvailable()
      mem.addData((2L, "four five six seven", "a"),    // before 3 < 6 → total 7
                  (3L, "x y", "b"))                    // unmapped → rejected
      q.processAllAvailable()
      mem.addData((4L, "late arrival", "a"))           // before 7 >= 6 → rejected
      q.processAllAvailable()
      val got = spark.table("tws_intake")
        .select($"doc_id", $"running_total").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 3L), (2L, 7L)),
        s"state must carry the total across batches: $got")
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
