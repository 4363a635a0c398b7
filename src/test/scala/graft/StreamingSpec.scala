package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.RawEvent
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("windowed counts over a parquet-fed stream match the batch result") {
    // Feed the real testdata events through a streaming scan. Older testdata
    // stored ts as int64-nanos (convert to µs timestamps in a staging dir);
    // newer testdata already stores TIMESTAMP(µs) — pass through, only
    // normalizing NTZ to the schema's TimestampType.
    val staging = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val rawEvents = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val staged = rawEvents.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        rawEvents.withColumn("ts", timestamp_micros((col("ts") / 1000).cast("long")))
      case _ => rawEvents.withColumn("ts", col("ts").cast("timestamp_ltz"))
    }
    staged.write.mode("overwrite").parquet(staging)

    val stream = EventStream.windowedCounts(EventStream.readEvents(spark, staging))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("win_counts")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.sql("SELECT sum(n) FROM win_counts").as[Long].head()
    assert(got == 1000)
    val types = spark.sql("SELECT count(DISTINCT event_type) FROM win_counts").as[Long].head()
    assert(types == 5)
    spark.sql("DROP TABLE IF EXISTS win_counts")
  }

  test("watermark drops late data in append mode across micro-batches") {
    import graft.streaming.EventStream
    val staging = java.nio.file.Files.createTempDirectory("graft-late").toString
    val base = 1700000000000L
    def write(rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.map { case (id, ts, uid, et, v, p) =>
        (id, new java.sql.Timestamp(ts), uid, et, v, p)
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(staging)

    // batch 1: events in windows [0,5m) and [5m,10m)
    write(Seq(
      (1L, base + 60000, 1L, "click", 1.0, "{}"),
      (2L, base + 360000, 1L, "click", 1.0, "{}")))
    val out = EventStream.windowedCounts(
      EventStream.readEvents(spark, staging), "5 minutes", "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("late_counts")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .start()
    try {
      q.processAllAvailable()
      // batch 2: watermark jumps far ahead (watermark trails by one batch,
      // so the late event must come in a LATER batch to be dropped)
      write(Seq((3L, base + 7200000, 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
      // batch 3: a very late event for window [0,5m) — now below the
      // advanced watermark — plus an advancer that closes the 2h window
      write(Seq(
        (4L, base + 30000, 1L, "late", 1.0, "{}"),
        (5L, base + 14400000, 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
      // batch 4: close the 4h window too (not asserted, just flushes)
      write(Seq((6L, base + 21600000, 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
      val emitted = spark.sql(
        "SELECT event_type, sum(n) FROM late_counts GROUP BY event_type")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(emitted.get("click").contains(2L))
      assert(emitted.get("view").contains(2L))   // 2h and 4h windows closed
      assert(!emitted.contains("late"))          // dropped by the watermark
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS late_counts")
    }
  }

  test("streaming dedup drops re-ingested content within the watermark horizon") {
    import graft.streaming.EventStream
    val staging = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    val base = 1700000000000L
    def write(rows: Seq[(Long, Long, String)]): Unit =
      rows.map { case (id, ts, txt) => (id, new java.sql.Timestamp(ts), txt) }
        .toDF("doc_id", "ts", "text")
        .write.mode("append").parquet(staging)

    write(Seq((1L, base, "Hello, World!"), (2L, base + 1000, "other text")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val in = spark.readStream.schema(schema).parquet(staging)
    val out = EventStream.dedupStream(in, "text", "ts", "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sdedup").start()
    try {
      q.processAllAvailable()
      // re-ingest normalized-equal content ("hello world" ≡ "Hello, World!")
      // plus one genuinely new doc
      write(Seq((3L, base + 2000, "hello world"), (4L, base + 3000, "brand new")))
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM sdedup").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 4L)) // 3 dropped as a dup of 1
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sdedup")
    }
  }

  test("streaming dedup re-emits a key once the watermark evicts it (bounded-state boundary)") {
    import graft.streaming.EventStream
    val staging = java.nio.file.Files.createTempDirectory("graft-sdedup2").toString
    val base = 1700000000000L
    val min10 = 10L * 60 * 1000
    def write(rows: Seq[(Long, Long, String)]): Unit =
      rows.map { case (id, ts, txt) => (id, new java.sql.Timestamp(ts), txt) }
        .toDF("doc_id", "ts", "text")
        .write.mode("append").parquet(staging)

    write(Seq((1L, base, "Hello, World!")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val in = spark.readStream.schema(schema).parquet(staging)
    val out = EventStream.dedupStream(in, "text", "ts", "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sdedup2").start()
    try {
      q.processAllAvailable()
      // advance event time 30 min: after this batch the watermark is
      // base+20min, past doc 1's ts+delay (base+10min) → its fingerprint
      // is EVICTED from the dedup state (the bounded-state contract)
      write(Seq((2L, base + 3 * min10, "advancer")))
      q.processAllAvailable()
      // same normalized content as doc 1, above the watermark → with the
      // fingerprint evicted this is a NEW key and must re-emit; a plain
      // dropDuplicates would still hold the key and silently drop it
      write(Seq((3L, base + 3 * min10 - min10 / 2, "hello world")))
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM sdedup2").collect()
        .map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 3L))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sdedup2")
    }
  }

  test("supervisor restarts a failing stream up to the budget, rethrows past it") {
    import graft.streaming.Supervisor
    val staging = java.nio.file.Files.createTempDirectory("graft-restart").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(staging)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    // decremented per (re)start BEFORE the batch runs: 3 -> fails at 2 and
    // 1, succeeds once the counter hits 0 on the third start
    val failures = new java.util.concurrent.atomic.AtomicInteger(3)
    val bomb = org.apache.spark.sql.functions.udf { (id: Long) =>
      if (failures.get() > 0) throw new RuntimeException("transient")
      id
    }
    // ONE checkpoint shared across restarts: each restart genuinely
    // recovers from the previous attempt's checkpoint and replays the
    // failed batch (the ST5 claim under test — a fresh checkpoint per
    // start would sidestep recovery entirely).
    def mkStart(ckpt: String) = () => {
      failures.decrementAndGet() // one fewer failure each (re)start
      spark.readStream.schema(schema).parquet(staging)
        .select(bomb(col("id")).as("id"))
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val ckpt1 = java.nio.file.Files.createTempDirectory("graft-ckpt1").toString
    // fails twice (failures 2 -> 1 -> 0), succeeds on the third start;
    // each restart waits out the backoff (sleep guarantees a lower bound,
    // so the timing assert can't flake)
    val t0 = System.nanoTime()
    assert(Supervisor.superviseRestarts(maxRestarts = 5, backoffMs = 100)(mkStart(ckpt1)) == 2)
    assert((System.nanoTime() - t0) / 1e6 >= 200.0) // 2 restarts × 100 ms
    // budget exhausted -> last failure propagates (own checkpoint: the
    // first one has already committed the batch)
    failures.set(10)
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    intercept[Exception] {
      Supervisor.superviseRestarts(maxRestarts = 1, backoffMs = 0)(mkStart(ckpt2))
    }
  }

  test("busy guard admits one caller and refuses concurrent entry") {
    import graft.streaming.Supervisor
    val guard = new Supervisor.BusyGuard
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      guard.tryRun { entered.countDown(); release.await() }
      ()
    })
    holder.start()
    entered.await()
    assert(guard.isBusy)
    assert(guard.tryRun(42).isEmpty) // refused, not queued
    release.countDown()
    holder.join()
    assert(guard.tryRun(42).contains(42)) // free again
  }

  test("EventLog emits the retrieval lifecycle matching the stats") {
    val stats = graft.operators.VectorSearch.dynamicThresholdSelect(
      Seq(0.92, 0.87, 0.81, 0.4), hitTarget = 3, step = 0.05)
    val events = graft.streaming.EventLog.retrievalEvents(spark, 7L, stats)
    val ev = events.collect()
    assert(ev.head.getString(0) == "retrieval_start")
    assert(ev.last.getString(0) == "retrieval_complete")
    assert(ev.count(_.getString(0) == "threshold_attempt") == stats.attempts)
    assert(ev.last.getString(5).contains("\"final_threshold\": 0.8"))
    assert(ev.forall(_.getLong(4) == 7L))
    assert(ev.head.schema.fieldNames.toSeq ==
      Seq("event_type", "ts", "agent_id", "task_id", "query_id", "data"))
    import org.apache.spark.sql.types._
    assert(events.schema == StructType(Seq(
      StructField("event_type", StringType), StructField("ts", TimestampType, nullable = false),
      StructField("agent_id", StringType), StructField("task_id", IntegerType),
      StructField("query_id", LongType, nullable = false), StructField("data", StringType))),
      events.schema.treeString)
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    val base = 1700000000000L
    val events = Seq(
      RawEvent(1, new java.sql.Timestamp(base), 1L, "click", 1.0, "{}"),
      RawEvent(2, new java.sql.Timestamp(base + 60000), 1L, "view", 1.0, "{}"),
      // 2h gap -> closes session 1 (2 events)
      RawEvent(3, new java.sql.Timestamp(base + 7200000), 1L, "click", 1.0, "{}"),
      // 3h gap -> closes session 2 (1 event)
      RawEvent(4, new java.sql.Timestamp(base + 18000000), 1L, "view", 1.0, "{}"),
      RawEvent(5, new java.sql.Timestamp(base + 100), 2L, "click", 1.0, "{}")
    ).toDS()
    val sessions = EventStream.sessionize(events, gapMinutes = 30)
      .collect().map(s => (s.user_id, s.n_events)).toSet
    // open sessions (last per user) are retained in state, not emitted
    assert(sessions == Set((1L, 2), (1L, 1)))
  }

  test("late event beyond the gap forms its own session, not a stretched one") {
    val base = 1700000000000L
    // Arrival order: the 12:00 pair first, then an event 90 min EARLIER.
    // With gap 30m it must close as its own 1-event session — an
    // append-at-the-tail fold would instead stretch the open session
    // across the 90-minute silence.
    val events = Seq(
      RawEvent(1, new java.sql.Timestamp(base), 1L, "click", 1.0, "{}"),
      RawEvent(2, new java.sql.Timestamp(base + 60000), 1L, "view", 1.0, "{}"),
      RawEvent(3, new java.sql.Timestamp(base - 5400000), 1L, "late", 1.0, "{}")
    ).toDS()
    val sessions = EventStream.sessionize(events, gapMinutes = 30)
      .collect().map(s => (s.n_events, s.session_start.getTime)).toSet
    // the late singleton closes (the 2-event session stays open in state)
    assert(sessions == Set((1, base - 5400000)))
  }

  test("event-time timeout closes an idle user's session with no new input") {
    import graft.streaming.EventStream
    import graft.streaming.EventStream.RawEvent
    val staging = java.nio.file.Files.createTempDirectory("graft-sess-to").toString
    val base = 1700000000000L
    def write(rows: Seq[(Long, Long, Long)]): Unit =
      rows.map { case (id, ts, uid) =>
        (id, new java.sql.Timestamp(ts), uid, "click", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(staging)

    // batch 1: user 1 has a 2-event session, then goes idle forever
    write(Seq((1L, base, 1L), (2L, base + 60000, 1L)))
    val in = spark.readStream.schema(EventStream.RawEventSchema)
      .parquet(staging).as[RawEvent]
    val out = EventStream.sessionizeEventTime(in,
      gapMinutes = 30, watermarkDelay = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_timeout").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM sess_timeout").count() == 0)
      // batch 2: OTHER-user event 2h later advances the watermark source
      write(Seq((3L, base + 7200000, 2L)))
      q.processAllAvailable()
      // batch 3: another advancer — during this batch the watermark
      // (2h - 10m delay) is past user 1's timeout (last + 30m), so the
      // idle session times out and is emitted although user 1 sent nothing
      write(Seq((4L, base + 10800000, 2L)))
      q.processAllAvailable()
      val emitted = spark.sql(
        "SELECT user_id, n_events FROM sess_timeout")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(emitted.contains((1L, 2)),
        s"idle user 1's session not closed by timeout: $emitted")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sess_timeout")
    }
  }

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val parts = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val prevParts = spark.conf.get(parts)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(parts, "4")
    try body finally { spark.conf.set(key, prev); spark.conf.set(parts, prevParts) }
  }

  test("transformWithState sessions: timer closes idle user, ListState counts distinct types") {
    import graft.streaming.EventStream
    import graft.streaming.EventStream.RawEvent
    val staging = java.nio.file.Files.createTempDirectory("graft-tws").toString
    val base = 1700000000000L
    def write(rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.map { case (id, ts, uid, et) =>
        (id, new java.sql.Timestamp(ts), uid, et, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(staging)

    withRocksDb {
      // user 1: 3 events, 2 distinct types, then idle forever
      write(Seq((1L, base, 1L, "click"), (2L, base + 60000, 1L, "view"),
        (3L, base + 120000, 1L, "click")))
      val in = spark.readStream.schema(EventStream.RawEventSchema)
        .parquet(staging).as[RawEvent]
      val out = EventStream.sessionStatsTws(in,
        gapMinutes = 30, watermarkDelay = "10 minutes")
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("tws_sessions").start()
      try {
        q.processAllAvailable()
        assert(spark.sql("SELECT * FROM tws_sessions").count() == 0)
        // other-user advancers push the watermark past user 1's timer
        write(Seq((4L, base + 7200000, 2L, "click")))
        q.processAllAvailable()
        write(Seq((5L, base + 10800000, 2L, "click")))
        q.processAllAvailable()
        val emitted = spark.sql(
          "SELECT user_id, n_events, n_types FROM tws_sessions")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
        assert(emitted.contains((1L, 3, 2)),
          s"idle user 1's session not closed by the TWS timer: $emitted")
      } finally {
        q.stop()
        spark.sql("DROP TABLE IF EXISTS tws_sessions")
      }
    }
  }

  test("transformWithState boundary: exact-gap MERGES, gap+1ms breaks (q225 ≡ q195 rule)") {
    import graft.streaming.EventStream
    import graft.streaming.EventStream.RawEvent
    val gapMs = 30 * 60000L
    val base = 1700000000000L
    for ((delta, expSessions) <- Seq((gapMs, 1), (gapMs + 1, 2))) {
      val staging = java.nio.file.Files.createTempDirectory("graft-twsb").toString
      withRocksDb {
        Seq((1L, new java.sql.Timestamp(base), 1L, "click", 1.0, "{}"),
          (2L, new java.sql.Timestamp(base + delta), 1L, "view", 1.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("append").parquet(staging)
        val in = spark.readStream.schema(EventStream.RawEventSchema)
          .parquet(staging).as[RawEvent]
        val out = EventStream.sessionStatsTws(in,
          gapMinutes = 30, watermarkDelay = "10 minutes")
        val q = out.writeStream.outputMode("append")
          .format("memory").queryName("tws_boundary").start()
        try {
          q.processAllAvailable()
          // far-future advancer fires every timer
          Seq((9L, new java.sql.Timestamp(base + 86400000L), 2L, "x", 1.0, "{}"))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
            .write.mode("append").parquet(staging)
          q.processAllAvailable()
          val rows = spark.sql(
            "SELECT n_events, n_types FROM tws_boundary WHERE user_id = 1")
            .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
          if (expSessions == 1) assert(rows == Seq((2, 2)),
            s"exact-gap event must merge: $rows")
          else assert(rows == Seq((1, 1), (1, 1)),
            s"gap+1ms must break the session: $rows")
        } finally {
          q.stop()
          spark.sql("DROP TABLE IF EXISTS tws_boundary")
        }
      }
    }
  }

  test("sessionizeEventTime under disorder ≡ batch-boundary watermark replay (q193's rule)") {
    // The stateful session stream's late-DROP semantics, pinned against
    // the same replay the q193/q196 sizing audits compute in batch:
    // watermark during batch b = max event time of batches < b − delay;
    // a row below it never reaches the state fold. Testdata arrival is
    // monotone (q195 gates the no-late path); here arrival order is
    // FORGED to create genuinely late rows.
    val staging = java.nio.file.Files.createTempDirectory("graft-sess-late").toString
    val base = 1700000000000L
    val delayMs = 60000L // 1 minute
    def write(rows: Seq[(Long, Long, Long)]): Unit =
      rows.map { case (id, ts, uid) =>
        (id, new java.sql.Timestamp(ts), uid, "click", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(staging)

    // batch 1: A(t0), B(t0+60s)           wm after = t0
    // batch 2: C(t0+600s), D(t0-300s)     D < wm(t0) -> DROPPED
    // batch 3: E(t0+660s), F(t0+300s)     wm now t0+540s -> F DROPPED
    // (D and F would BOTH merge into the session if kept: gaps < 30 min)
    val batches = Seq(
      Seq((1L, base, 1L), (2L, base + 60000, 1L)),
      Seq((3L, base + 600000, 1L), (4L, base - 300000, 1L)),
      Seq((5L, base + 660000, 1L), (6L, base + 300000, 1L)))
    write(batches.head)
    val in = spark.readStream.schema(EventStream.RawEventSchema)
      .parquet(staging).as[RawEvent]
    val out = EventStream.sessionizeEventTime(in,
      gapMinutes = 30, watermarkDelay = "1 minute")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_late").start()
    try {
      q.processAllAvailable()
      batches.tail.foreach { b => write(b); q.processAllAvailable() }
      // sentinels: advance the watermark, then fire the timeouts
      write(Seq((7L, base + 36000000L, 2L)))
      q.processAllAvailable()
      write(Seq((8L, base + 72000000L, 2L)))
      q.processAllAvailable()

      // batch-boundary replay: per batch, wm = max(prior ts) − delay
      var wm = Long.MinValue
      val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
      batches.foreach { b =>
        b.foreach { case (_, ts, uid) if uid == 1L =>
          if (ts >= wm) survivors += ts
        case _ => () }
        wm = math.max(wm, b.map(_._2).max - delayMs)
      }
      assert(survivors.sorted == Seq(base, base + 60000, base + 600000,
        base + 660000), "replay must drop D and F")
      // survivors are one 30-min-gap session
      val got = spark.sql(
        "SELECT session_start, session_end, n_events FROM sess_late WHERE user_id = 1")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
          r.getInt(2))).toSet
      assert(got == Set((survivors.min, survivors.max, survivors.size)),
        s"stream output $got != replay session over $survivors")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sess_late")
    }
  }

  test("session gap boundary: exact-gap MERGES, gap+1ms breaks — both operators, pinned") {
    // Pinned empirically (q206's oracle depends on it): session_window
    // merges an event landing AT OR inside last + gap — the INCLUSIVE
    // boundary, same as foldSessions' <=, NOT the strict window-overlap
    // reading of the session_window docs. The testdata never exercises
    // an exact-gap pair, so this fixture is the only guard on the rule.
    val staging = java.nio.file.Files.createTempDirectory("graft-swin").toString + "/in"
    val base = 1700000000000L
    val gapMs = 1800000L
    Seq(
      // user 1: exact-gap pair -> ONE session of 2
      (1L, new java.sql.Timestamp(base), 1L, "click", 1.0, "{}"),
      (2L, new java.sql.Timestamp(base + gapMs), 1L, "click", 1.0, "{}"),
      // user 3: gap + 1ms -> TWO sessions of 1
      (4L, new java.sql.Timestamp(base), 3L, "click", 1.0, "{}"),
      (5L, new java.sql.Timestamp(base + gapMs + 1), 3L, "click", 1.0, "{}"),
      // sentinel advances the watermark so every session finalizes
      (3L, new java.sql.Timestamp(base + 86400000L), 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(staging)
    val out = EventStream.readEvents(spark, staging)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("swin_edge")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      val merged = spark.sql("SELECT n FROM swin_edge WHERE user_id = 1")
        .as[Long].collect().toSeq.sorted
      assert(merged == Seq(2L),
        s"session_window must MERGE the exact-gap pair, got $merged")
      val split = spark.sql("SELECT n FROM swin_edge WHERE user_id = 3")
        .as[Long].collect().toSeq.sorted
      assert(split == Seq(1L, 1L),
        s"session_window must break one instant past the gap, got $split")
      // the custom-state fold shares the inclusive boundary
      val folded = EventStream.sessionize(Seq(
        RawEvent(1, new java.sql.Timestamp(base), 1L, "click", 1.0, "{}"),
        RawEvent(2, new java.sql.Timestamp(base + gapMs), 1L, "click", 1.0, "{}"),
        RawEvent(3, new java.sql.Timestamp(base + 86400000L), 1L, "late", 1.0, "{}"))
        .toDS(), gapMinutes = 30)
        .collect().map(_.n_events).toSeq
      assert(folded == Seq(2),
        s"foldSessions must merge the exact-gap pair, got $folded")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS swin_edge")
    }
  }

  test("q195 boundary: sessionizeEventTime merges the exact-gap event, breaks at gap+1ms") {
    // The r12 q206 catch generalized (judge item #5): every gap rule an
    // oracle encodes gets an exact-boundary fixture, because 3-SF-green
    // testdata never lands on the boundary. q195's oracle breaks on
    // `gap > 1800000` ms — so the STREAMING operator must merge an event
    // arriving exactly at last + gap and break one ms past it.
    val staging = java.nio.file.Files.createTempDirectory("graft-sess-edge").toString
    val base = 1700000000000L
    val gapMs = 1800000L
    def write(rows: Seq[(Long, Long, Long)]): Unit =
      rows.map { case (id, ts, uid) =>
        (id, new java.sql.Timestamp(ts), uid, "click", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(staging)
    // user 1: exact-gap pair; user 3: gap+1ms pair
    write(Seq((1L, base, 1L), (2L, base + gapMs, 1L),
      (4L, base, 3L), (5L, base + gapMs + 1, 3L)))
    val in = spark.readStream.schema(EventStream.RawEventSchema)
      .parquet(staging).as[RawEvent]
    val out = EventStream.sessionizeEventTime(in,
      gapMinutes = 30, watermarkDelay = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_edge").start()
    try {
      q.processAllAvailable()
      // sentinel advances the watermark so every session times out
      write(Seq((9L, base + 86400000L, 2L)))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT user_id, n_events FROM sess_edge WHERE user_id IN (1, 3)")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      assert(got(1L) == Seq(2),
        s"exact-gap event must MERGE (oracle: gap > G breaks): ${got(1L)}")
      assert(got(3L) == Seq(1, 1),
        s"gap+1ms must BREAK: ${got(3L)}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sess_edge")
    }
  }

  test("q201 boundary: an event exactly on a window edge opens the NEXT window") {
    // q201's oracle buckets by floor division (`tu // 300000000`): an
    // event at exactly a 5-minute boundary belongs to the window STARTING
    // there. Spark's tumbling windows are [start, end) — same rule; this
    // fixture pins both halves so neither side can drift to an inclusive
    // end silently.
    val staging = java.nio.file.Files.createTempDirectory("graft-win-edge").toString + "/in"
    val t0 = 1699999800000L // multiple of 300000 ms
    val winMs = 300000L
    Seq(
      (1L, new java.sql.Timestamp(t0 + 1000), 1L, "click", 1.0, "{}"),
      (2L, new java.sql.Timestamp(t0 + winMs - 1), 1L, "click", 1.0, "{}"),
      (3L, new java.sql.Timestamp(t0 + winMs), 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(staging)
    val out = EventStream.windowedCounts(
      EventStream.readEvents(spark, staging), "5 minutes", "10 minutes")
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName("win_edge")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      val got = spark.sql("SELECT window_start, n FROM win_edge")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
      assert(got == Map(t0 -> 2L, (t0 + winMs) -> 1L),
        s"window-edge event must open the NEXT window: $got")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS win_edge")
    }
  }

  test("q207 boundary: interval-join ends are inclusive at p_ts − 1h and at p_ts") {
    // q207's range is `c_ts >= p_ts − 1h AND c_ts <= p_ts` — both ends
    // CLOSED. Clicks exactly on each end must join; 1 ms outside either
    // end must not.
    val staging = java.nio.file.Files.createTempDirectory("graft-join-edge").toString + "/in"
    val p = 1700000000000L
    val hourMs = 3600000L
    Seq(
      (100L, new java.sql.Timestamp(p), 1L, "purchase", 1.0, "{}"),
      (1L, new java.sql.Timestamp(p - hourMs), 1L, "click", 1.0, "{}"),      // exact open end: IN
      (2L, new java.sql.Timestamp(p - hourMs - 1), 1L, "click", 1.0, "{}"),  // 1ms before: OUT
      (3L, new java.sql.Timestamp(p), 1L, "click", 1.0, "{}"),               // exact close end: IN
      (4L, new java.sql.Timestamp(p + 1), 1L, "click", 1.0, "{}"))           // 1ms after: OUT
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(staging)
    val clicks = EventStream.readEvents(spark, staging)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = EventStream.readEvents(spark, staging)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "10 minutes")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("join_edge")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      val got = spark.sql("SELECT click_id FROM join_edge")
        .as[Long].collect().toSet
      assert(got == Set(1L, 3L),
        s"closed-interval ends: expected clicks {1, 3}, got $got")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS join_edge")
    }
  }

  test("screenedIngest flags each micro-batch against store + prior batches, ≡ batch replay") {
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-screen").toString
    val staging = s"$root/in"
    val storePath = s"$root/store"
    val flaggedPath = s"$root/flagged"
    val tmpl = (1 to 40).map(i => s"seed$i").mkString(" ")
    val fresh = (1 to 40).map(i => s"new$i").mkString(" ")

    // Seed the store with a pre-existing corpus (ids 1-3: one template).
    // Seed lives at batch=-1: stream micro-batch ids start at 0.
    val seed = Seq((1L, tmpl), (2L, (1 to 40).map(i => s"other$i").mkString(" ")),
      (3L, (1 to 40).map(i => s"third$i").mkString(" "))).toDF("doc_id", "text")
    Dedup.saveSignatures(seed, s"$storePath/batch=-1", "text", "doc_id", n = 3, bands = 4)

    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(staging)

    // batch 0 arrives before the stream starts: 10 = dup of seed 1, 11 fresh
    write(Seq((10L, tmpl), (11L, fresh)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val in = spark.readStream.schema(schema).parquet(staging)
    val q = Dedup.screenedIngest(in, storePath, flaggedPath, s"$root/ckpt",
      "text", "doc_id", n = 3, bands = 4, statsPath = s"$root/stats")
    try {
      q.processAllAvailable()
      // batch 1: 20 = dup of STREAMED doc 11 (prior batch, not in seed),
      // 21 = dup of seed 2, 22 genuinely new
      write(Seq((20L, fresh), (21L, (1 to 40).map(i => s"other$i").mkString(" ")),
        (22L, (1 to 40).map(i => s"brand$i").mkString(" "))))
      q.processAllAvailable()

      val flagged = spark.read.parquet(flaggedPath)
        .select("id", "stored_id").as[(Long, Long)].collect().toSet
      assert(flagged == Set((10L, 1L), (20L, 11L), (21L, 2L)),
        s"unexpected flag set: $flagged")

      // Stream ≡ batch replay: re-screen batch 1's docs as one batch call
      // against the store as of batch 0 (seed + first micro-batch).
      val batch1 = Seq((20L, fresh), (21L, (1 to 40).map(i => s"other$i").mkString(" ")),
        (22L, (1 to 40).map(i => s"brand$i").mkString(" "))).toDF("doc_id", "text")
      val replay = Dedup.screenAgainst(batch1,
          Dedup.loadSignatures(spark, s"$storePath/batch=-1")
            .unionByName(Dedup.loadSignatures(spark, s"$storePath/batch=0")),
          "text", "doc_id", n = 3, bands = 4)
        .select("id", "stored_id").as[(Long, Long)].collect().toSet
      assert(replay == Set((20L, 11L), (21L, 2L)))

      // Idempotent store layout: one dir per batch.
      val dirs = new java.io.File(storePath).list().toSet
      assert(dirs.contains("batch=-1") && dirs.contains("batch=0") &&
        dirs.contains("batch=1"))

      // Density health history: one row per micro-batch with the
      // screened breadth and flag counts (the per-batch face of q131).
      val stats = Dedup.loadScreenStats(spark, s"$root/stats")
        .select("batch_id", "n_docs", "n_flagged", "n_prior_batches")
        .as[(Long, Long, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3, t._4)).toMap
      // batch 0: 2 docs, 1 flagged (10 vs seed), screened vs 1 prior dir;
      // batch 1: 3 docs, 2 flagged (20 vs 11, 21 vs seed 2), vs 2 priors.
      assert(stats == Map(0L -> ((2L, 1L, 1L)), 1L -> ((3L, 2L, 2L))),
        s"unexpected screen-density history: $stats")
    } finally {
      q.stop()
    }
  }

  test("screenBatch retry with its own store dir present rewrites identical flags") {
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-retry").toString
    val storePath = s"$root/store"
    val flaggedPath = s"$root/flagged"
    val tmpl = (1 to 40).map(i => s"seed$i").mkString(" ")
    val twin = (1 to 40).map(i => s"twin$i").mkString(" ")
    Dedup.saveSignatures(Seq((1L, tmpl)).toDF("doc_id", "text"),
      s"$storePath/batch=-1", "text", "doc_id", n = 3, bands = 4)
    // 10 dups the seed; 11 and 12 dup EACH OTHER only — exactly the
    // self/peer pairs a corrupted retry would emit.
    val batch = Seq((10L, tmpl), (11L, twin), (12L, twin)).toDF("doc_id", "text")
    def runOnce(): Set[(Long, Long)] = {
      Dedup.screenBatch(batch, 0L, storePath, flaggedPath, "text", "doc_id",
        3, 4, 1, Dedup.ScreenBatchBucketCap, Dedup.DefaultMaxBucketSize)
      spark.read.parquet(s"$flaggedPath/batch=0")
        .select("id", "stored_id").as[(Long, Long)].collect().toSet
    }
    assert(runOnce() == Set((10L, 1L)))
    // at-least-once: the same batch id re-runs with batch=0 already in
    // the store from the first attempt — flags must be unchanged, not
    // (11,11)/(11,12)/(12,11)/... self- and peer-pairs.
    assert(runOnce() == Set((10L, 1L)),
      "retry flagged batch docs against themselves or same-batch peers")
  }

  test("compactSignatureStore re-caps globally; re-screens identically minus over-cap members") {
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val storePath = s"$root/store"
    def text(tag: String) = (1 to 40).map(i => s"$tag$i").mkString(" ")
    val hot = text("hot")
    // 3 batches; each holds 6 hot-template docs (under storeCap = 10 PER
    // BATCH) plus one unique doc. Aggregate hot membership = 18 > 10 —
    // the per-key drift the write-time cap cannot see.
    for (bi <- 0 until 3) {
      val rows = (0 until 6).map(i => ((bi * 100 + i).toLong, hot)) :+
        ((bi * 100 + 50).toLong, text(s"u$bi-"))
      Dedup.screenBatch(rows.toDF("doc_id", "text"), bi, storePath,
        s"$root/flagged", "text", "doc_id", 3, 4, 1, 250, 10)
    }
    // Materialize the pre-compaction store locally (compaction deletes
    // the files it absorbs).
    val preRows = Dedup.loadSignatures(spark, storePath)
      .as[(Long, Int, String)].collect().toSet
    val pre = preRows.toSeq.toDF("id", "band", "sig")
    val preDropped = Dedup.lshDroppedBuckets(pre, 10)
      .select("n_members").as[Long].collect()
    assert(preDropped.nonEmpty && preDropped.forall(_ == 18L),
      "hot cluster should have drifted past storeCap in aggregate")
    val probe = Seq((900L, hot), (901L, text("u1-"))).toDF("doc_id", "text")
    val preFlags = Dedup.screenAgainst(probe, pre, "text", "doc_id", 3, 4)
      .select("id", "stored_id").as[(Long, Long)].collect().toSet
    assert(preFlags.contains((901L, 150L)) && preFlags.exists(_._1 == 900L))

    val tbl = Dedup.compactSignatureStore(spark, storePath,
      buckets = 8, storeCap = 10)
    try {
      // Absorbed dirs gone; the compacted seed is the whole store.
      assert(new java.io.File(storePath).list()
        .filter(_.startsWith("batch=")).toSet == Set("batch=-1"))
      // Compacted table == the globally-capped pre-compaction store.
      assert(spark.table(tbl).select("id", "band", "sig")
        .as[(Long, Int, String)].collect().toSet ==
        Dedup.capBuckets(pre, 10).as[(Long, Int, String)].collect().toSet)
      // Re-screen: identical minus the over-cap (hot-cluster) members,
      // which lshDroppedBuckets accounted above.
      val postFlags = Dedup.screenAgainstCompacted(probe, storePath,
          "text", "doc_id", n = 3, bands = 4)
        .select("id", "stored_id").as[(Long, Long)].collect().toSet
      assert(postFlags == preFlags.filterNot(_._1 == 900L))
      // The streaming path still reads the compacted store as plain
      // parquet under the same root.
      assert(Dedup.loadSignatures(spark, storePath)
        .as[(Long, Int, String)].collect().toSet ==
        Dedup.capBuckets(pre, 10).as[(Long, Int, String)].collect().toSet)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("screen join against the compacted store has no stored-side exchange") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val root = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val storePath = s"$root/store"
    def text(tag: String) = (1 to 40).map(i => s"$tag$i").mkString(" ")
    for (bi <- 0 until 3) {
      val rows = (0 until 10).map(i => ((bi * 100 + i).toLong, text(s"b$bi-d$i-")))
      Dedup.screenBatch(rows.toDF("doc_id", "text"), bi, storePath,
        s"$root/flagged", "text", "doc_id", 3, 4, 1, 250, 1000)
    }
    val tbl = Dedup.compactSignatureStore(spark, storePath, buckets = 8)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // Force a shuffle join deterministically: the no-exchange property
    // must come from the bucket layout, not from the probe being small
    // enough to broadcast.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = Seq((900L, text("b1-d3-")), (901L, text("nowhere-")))
        .toDF("doc_id", "text")
      val screened = Dedup.screenAgainstCompacted(probe, storePath,
        "text", "doc_id", n = 3, bands = 4)
      assert(screened.select("id", "stored_id").as[(Long, Long)]
        .collect().toSet == Set((900L, 103L)))
      val plan = screened.queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, s"expected a shuffle join in:\n$plan")
      // The stored (right) side: a bucketed scan with NO exchange above
      // it — the store is read in its on-disk layout, never re-shuffled.
      val storedSide = joins.head.children(1)
      assert(storedSide.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        s"stored side re-shuffled:\n$storedSide")
      val storedScans = storedSide.collect {
        case s: FileSourceScanExec => s
      }
      assert(storedScans.nonEmpty && storedScans.forall(_.bucketedScan),
        s"stored side not a bucketed scan:\n$storedSide")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }
}
