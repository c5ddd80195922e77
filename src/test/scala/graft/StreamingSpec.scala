package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Artifacts, Streaming}
import graft.streaming.Streaming.Ev

/** Batch/stream unification: the same transform over a MemoryStream
  * (Beam TestStream parity) must equal the batch result; watermarks drop
  * late data; stateful running counts accumulate across micro-batches. */
class StreamingSpec extends SparkSpec {

  private def ts(day: Int, hour: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")

  /** A directory listing reader (`spark.read.parquet(dir)`) sees exactly
    * what the newest manifest commits: each live and sidecar directory
    * lists the manifest's parts, no more, no fewer. */
  private def assertListedAsCommitted(at: Artifacts.Layout, when: String): Unit = {
    val m = Artifacts.snapshot(spark, at)
    assert(m.version >= 0, s"${at.root} has no manifest $when")
    at.dirs.foreach { case (t, d) =>
      val listed = Option(new java.io.File(d).list()).toSeq.flatten
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted
      assert(listed == m.parts(t).map(_._1).sorted,
        s"$d lists ${listed.size} files, manifest ${m.version} commits ${m.parts(t).size} $when")
    }
  }

  private val stateStoreRocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Generated code only: a projection that fails to compile raises
    * instead of falling back to interpreted evaluation. */
  private val codegenOnly = "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"

  private val rows = Seq(
    Ev(1, ts(1, 1), 10, "click", 1.0),
    Ev(2, ts(1, 5), 11, "view", 2.0),
    Ev(3, ts(2, 3), 10, "click", 3.0),
    Ev(4, ts(1, 9), 10, "view", 4.0),   // out of order within window
    Ev(5, ts(3, 2), 11, "click", 5.0))

  test("tumbling window: stream equals batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.tumblingCounts(mem.toDF(), watermark = Some("1 day"))
      .writeStream.format("memory").queryName("t_tumbling")
      .outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    // append mode only emits closed windows; advance the watermark far out
    mem.addData(Ev(99, ts(30), 99, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_tumbling")
      .filter(col("event_type") =!= "x")
      .orderBy("w_start_us", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = Streaming.tumblingCounts(
        (rows :+ Ev(99, ts(30), 99, "click", 0.0)).toDF())
      .orderBy("w_start_us", "event_type")
      .collect().map(_.toSeq).toSeq
    // every batch window except the open last one must be in the stream output
    val openWindow = batch.map(_.head.asInstanceOf[Long]).max
    val closedBatch = batch.filterNot(_.head == openWindow)
    assert(closedBatch.forall(streamed.contains), s"stream=$streamed batch=$closedBatch")
  }

  test("watermark drops data later than the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.tumblingCounts(mem.toDF(), watermark = Some("1 day"))
      .writeStream.format("memory").queryName("t_late")
      .outputMode("append").start()
    mem.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(10), 1, "click", 1.0))
    q.processAllAvailable() // watermark advances to day10 - 1d
    mem.addData(Ev(3, ts(1, 1), 1, "click", 100.0)) // far behind watermark: dropped
    q.processAllAvailable()
    mem.addData(Ev(4, ts(30), 1, "click", 1.0)) // close everything still open
    q.processAllAvailable()
    q.stop()
    val day1 = spark.table("t_late")
      .filter(col("w_start_us") === 1704067200000000L) // 2024-01-01 UTC
      .select("n").collect().map(_.getLong(0)).toSeq
    assert(day1 == Seq(1), s"late event must be dropped, got n=$day1")
  }

  test("session windows: stream equals batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sess = Seq(
      Ev(1, ts(1, 1), 1, "click", 1.0),
      Ev(2, ts(1, 2), 1, "click", 1.0),  // same session (gap 12h)
      Ev(3, ts(2, 1), 1, "click", 1.0),  // new session
      Ev(4, ts(1, 4), 2, "view", 1.0))
    val mem = MemoryStream[Ev]
    val q = Streaming.sessionCounts(mem.toDF(), watermark = Some("1 day"))
      .writeStream.format("memory").queryName("t_sess")
      .outputMode("append").start()
    mem.addData(sess: _*)
    q.processAllAvailable()
    mem.addData(Ev(99, ts(30), 99, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_sess").filter(col("user_id") < 99)
      .orderBy("user_id", "s_start_us").collect().map(_.toSeq).toSeq
    val batch = Streaming.sessionCounts(sess.toDF())
      .orderBy("user_id", "s_start_us").collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("dynamic-gap session windows: stream equals batch, purchase stretches the gap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sess = Seq(
      Ev(1, ts(1, 1), 1, "purchase", 1.0), // 24h gap holds the session open
      Ev(2, ts(1, 20), 1, "click", 1.0),   // 19h later: inside the 24h purchase gap
      Ev(3, ts(2, 21), 1, "click", 1.0),   // 25h after #2 (12h gap): new session
      Ev(4, ts(1, 1), 2, "click", 1.0),
      Ev(5, ts(1, 20), 2, "click", 1.0))   // 19h > 12h click gap: new session
    val mem = MemoryStream[Ev]
    val q = Streaming.dynSessionCounts(mem.toDF(), watermark = Some("1 day"))
      .writeStream.format("memory").queryName("t_dsess")
      .outputMode("append").start()
    mem.addData(sess: _*)
    q.processAllAvailable()
    mem.addData(Ev(99, ts(30), 99, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_dsess").filter(col("user_id") < 99)
      .orderBy("user_id", "s_start_us").collect().map(_.toSeq).toSeq
    val batch = Streaming.dynSessionCounts(sess.toDF())
      .orderBy("user_id", "s_start_us").collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // the purchase gap must have merged user 1's first two events while
    // user 2's identical timings (no purchase) split
    val u1 = batch.filter(_.head == 1L)
    val u2 = batch.filter(_.head == 2L)
    assert(u1.map(_(2)) == Seq(2L, 1L), s"user1 sessions: $u1")
    assert(u2.map(_(2)) == Seq(1L, 1L), s"user2 sessions: $u2")
  }

  test("event-time timer fires when the watermark passes last-event + gap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    // 12h gap sessionizer, 0-lateness watermark
    val q = Streaming.sessionsWithTimer(mem.toDS(), 12L * 3600 * 1000, "0 seconds")
      .writeStream.format("memory").queryName("t_timer")
      .outputMode("append").start()
    // batch 1: two events 1h apart -> one open session
    mem.addData(Ev(1, ts(1, 1), 7, "click", 1.0), Ev(2, ts(1, 2), 7, "click", 1.0))
    q.processAllAvailable()
    assert(spark.table("t_timer").count() == 0) // timer not yet fired
    // batch 2: far-future event advances the watermark past end+gap
    mem.addData(Ev(3, ts(20), 8, "click", 1.0))
    q.processAllAvailable()
    // one more batch so the fired timer's output is committed
    mem.addData(Ev(4, ts(25), 8, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("t_timer").filter(col("user_id") === 7)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(sessions == Seq((7L, 2L)), s"got $sessions")
  }

  test("streaming Deduplicate: stream equals batch within the watermark horizon") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    // Beam's Deduplicate.within_duration: repeats of a key are dropped
    // while the key is within the watermark horizon; state then expires
    val dups = Seq(
      Ev(1, ts(1), 1, "click", 1.0), Ev(1, ts(1), 1, "click", 1.0),
      Ev(1, ts(1, 2), 1, "click", 2.0), Ev(2, ts(2), 1, "view", 3.0))
    val q = Streaming.deduplicate(mem.toDF(), Seq("event_id"), Some(("ts", "1 day")))
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    mem.addData(dups.take(2): _*)
    q.processAllAvailable()
    mem.addData(dups.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("t_dedup").select("event_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 2L), s"got $ids") // the 3 copies of id 1 collapse
    // the SAME declaration over a bounded frame gives the same keys
    val batchIds = Streaming.deduplicate(dups.toDF(), Seq("event_id"), Some(("ts", "1 day")))
      .select("event_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(batchIds == ids, s"batch=$batchIds stream=$ids")
  }

  test("Deduplicate state expires once the watermark passes the key") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.deduplicate(mem.toDF(), Seq("event_id"), Some(("ts", "1 hour")))
      .writeStream.format("memory").queryName("t_dedup_exp")
      .outputMode("append").start()
    mem.addData(Ev(1, ts(1), 1, "click", 1.0))
    q.processAllAvailable()
    // advance the watermark a day past id 1's slot, expiring its state
    mem.addData(Ev(50, ts(2), 1, "click", 1.0))
    q.processAllAvailable()
    // the same id re-appearing AFTER expiry is emitted again — the
    // within-watermark contract (bounded state), not forever-dedup
    mem.addData(Ev(1, ts(2, 1), 1, "click", 9.0))
    q.processAllAvailable()
    q.stop()
    val n1 = spark.table("t_dedup_exp").filter(col("event_id") === 1).count()
    assert(n1 == 2, s"expired key must re-emit, got $n1 rows for id 1")
  }

  test("stream-stream interval join: purchases to prior clicks within 2h") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val c = clicks.toDF().withWatermark("ts", "1 day")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val p = purchases.toDF().withWatermark("ts", "1 day")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val joined = p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 2 HOURS"))
    val q = joined.writeStream.format("memory").queryName("t_ssj")
      .outputMode("append").start()
    clicks.addData(Ev(1, ts(1, 1), 7, "click", 1.0), Ev(2, ts(1, 8), 7, "click", 1.0))
    purchases.addData(Ev(10, ts(1, 2), 7, "purchase", 9.0)) // 1h after click 1
    q.processAllAvailable()
    clicks.addData(Ev(99, ts(20), 99, "click", 0.0))
    purchases.addData(Ev(98, ts(20), 98, "purchase", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_ssj").filter(col("p_id") === 10)
      .select("c_id").collect().map(_.getLong(0)).toSeq
    // only click 1 is within [p_ts - 2h, p_ts]; click 2 is 6h later
    assert(got == Seq(1), s"got $got")
  }

  test("flatMapGroupsWithState running counts accumulate across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.runningCounts(mem.toDS())
      .writeStream.format("memory").queryName("t_state")
      .outputMode("update").start()
    mem.addData(rows.take(3): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    // last update per user = total count
    val finalCounts = spark.table("t_state")
      .groupBy("user_id").agg(max("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts == Map(10L -> 3L, 11L -> 2L))
  }

  test("update mode approximates Beam accumulating panes (re-emitted refinements)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // Beam accumulating mode re-fires a window's UPDATED aggregate on
    // each trigger; Structured Streaming's update output mode re-emits
    // the refined row for every window a micro-batch touches. The
    // memory sink keeps all updates, so the same window key must appear
    // with a GROWING count — the accumulating (not discarding) shape.
    val mem = MemoryStream[Ev]
    val q = Streaming.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("t_accum")
      .outputMode("update").start()
    mem.addData(Ev(1, ts(1, 1), 1, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(2, ts(1, 2), 1, "click", 2.0))
    q.processAllAvailable()
    q.stop()
    val ns = spark.table("t_accum").filter(col("event_type") === "click")
      .select("n").collect().map(_.getLong(0)).toSeq.sorted
    assert(ns == Seq(1L, 2L), s"got $ns") // pane 1 then refined pane 2
  }

  test("kafka source builder: config surface works; connector absence is explicit") {
    // no spark-sql-kafka jar in this sandbox (zero egress): the builder
    // must fail FAST and CLEARLY at load(), not at query start
    val err = intercept[Exception] {
      Streaming.kafkaSource(spark, "broker:9092", "events").load()
    }
    assert(err.getMessage.toLowerCase.contains("kafka"), err.getMessage)
  }

  test("transformWithState running counts match the flatMapGroupsWithState form") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    withConf(stateStoreRocksDb) {
      val mem = MemoryStream[Ev]
      val q = Streaming.runningCountsTws(mem.toDS())
        .writeStream.format("memory").queryName("t_tws")
        .outputMode("update").start()
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
      q.stop()
      val finalCounts = spark.table("t_tws")
        .groupBy("user_id").agg(max("n").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(finalCounts == Map(10L -> 3L, 11L -> 2L)) // same as t_state totals
    }
  }

  test("multi-timer session monitor: idle warning, inactivity close, duration cap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    withConf(stateStoreRocksDb, codegenOnly) {
      def ev(uid: Long, ms: Long) =
        Streaming.Ev(ms, new java.sql.Timestamp(ms), uid, "click", 1.0)
      val mem = MemoryStream[Streaming.Ev]
      // gap 10 s (warn at +5 s), hard cap 60 s
      val q = Streaming.sessionMonitor(mem.toDS(), gapMs = 10000L, maxDurMs = 60000L)
        .writeStream.format("memory").queryName("t_sessmon")
        .outputMode("append").start()
      // user 10: two events then silence → idle_warning@8000, inactivity@13000
      // user 11: an event every 8 s through 64 s — never idle, so only the
      // duration cap at 1000+60000 can close it (after 9 events)
      mem.addData(ev(10, 1000), ev(10, 3000), ev(11, 1000)); q.processAllAvailable()
      (8000L to 64000L by 8000L).foreach { ms =>
        mem.addData(ev(11, ms)); q.processAllAvailable()
      }
      // watermark driver: push event time far past every pending timer
      mem.addData(ev(99, 200000)); q.processAllAvailable()
      mem.addData(ev(99, 300000)); q.processAllAvailable()
      q.stop()
      val got = spark.table("t_sessmon")
        .filter(col("user_id").isin(10L, 11L))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set(
        (10L, "idle_warning", 2L, 8000L),
        (10L, "inactivity", 2L, 13000L),
        (11L, "duration_cap", 9L, 61000L)), s"got: $got")
    }
  }

  test("triggered panes: early / on-time / late firings in both accumulation modes") {
    // the Beam trigger surface (AfterWatermark + early/late firings +
    // allowed_lateness + ACCUMULATING/DISCARDING) that SURVEY carried
    // as a documented gap — same input through both modes:
    // window [0,10s), lateness 10s, user 7 gets 2 early batches, the
    // watermark (maxEv) passes the window end, then one late event
    import spark.implicits._
    implicit val sc = spark.sqlContext
    withConf(stateStoreRocksDb, codegenOnly) {
      def ev(uid: Long, ms: Long) =
        Streaming.Ev(ms, new java.sql.Timestamp(ms), uid, "click", 1.0)
      def run(accumulating: Boolean, name: String): Seq[(Long, Int, String)] = {
        val mem = MemoryStream[Streaming.Ev]
        val q = Streaming.triggeredPanes(mem.toDS(), windowMs = 10000L,
            latenessMs = 10000L, accumulating = accumulating)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        // window [100s, 110s) — away from epoch: Spark's watermark
        // floors at 0, so a window whose (end - lateness) is <= 0 would
        // fire its on-time pane immediately (the documented boundary)
        mem.addData(ev(7, 101000), ev(7, 102000)); q.processAllAvailable() // EARLY n=2
        mem.addData(ev(7, 105000)); q.processAllAvailable()                // EARLY +1
        // maxEv passes window end (112000 >= 110000) -> on-time; second
        // push lets the timer see the advanced watermark
        mem.addData(ev(99, 112000)); q.processAllAvailable()
        mem.addData(ev(99, 113000)); q.processAllAvailable()
        mem.addData(ev(7, 106000)); q.processAllAvailable()                // LATE +1
        // push Beam-wm past wEnd + lateness -> gc
        mem.addData(ev(99, 135000)); q.processAllAvailable()
        mem.addData(ev(99, 145000)); q.processAllAvailable()
        q.stop()
        spark.table(name).filter(col("user_id") === 7L)
          .orderBy(col("pane"))
          .collect().map(r => (r.getAs[Long]("n"), r.getAs[Int]("pane"),
            r.getAs[String]("timing"))).toSeq
      }
      assert(run(accumulating = true, "t_panes_acc") == Seq(
        (2L, 0, "EARLY"), (3L, 1, "EARLY"), (3L, 2, "ON_TIME"), (4L, 3, "LATE")))
      assert(run(accumulating = false, "t_panes_disc") == Seq(
        (2L, 0, "EARLY"), (1L, 1, "EARLY"), (0L, 2, "ON_TIME"), (1L, 3, "LATE")))
    }
  }

  test("transformWithState TTL: a silent key's state is evicted and its count restarts") {
    // the bounded-state knob for 100 TB streams: footprint tracks
    // ACTIVE keys. TTL is processing-time by API contract, so this test
    // sleeps past a short TTL; if eviction failed the second batch
    // would read 3, not restart at 1.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    withConf(stateStoreRocksDb) {
      def ev(ms: Long) = Streaming.Ev(ms, new java.sql.Timestamp(ms), 5L, "click", 1.0)
      // processing-time mode never signals "no new data", so
      // processAllAvailable would block forever — poll the sink instead
      def awaitValue(n: Long): Unit = {
        val deadline = System.currentTimeMillis + 30000
        def seen() = spark.table("t_ttl").filter(col("user_id") === 5L)
          .collect().map(_.getLong(1)).contains(n)
        while (System.currentTimeMillis < deadline && !seen()) Thread.sleep(100)
        assert(seen(), s"timed out waiting for count $n in t_ttl")
      }
      val mem = MemoryStream[Streaming.Ev]
      val q = Streaming.runningCountsTtl(mem.toDS(), java.time.Duration.ofMillis(1500))
        .writeStream.format("memory").queryName("t_ttl")
        .outputMode("update").start()
      mem.addData(ev(1), ev(2)); awaitValue(2L) // count -> 2
      Thread.sleep(2500) // TTL 1.5s elapses while the key is silent
      mem.addData(ev(3)); awaitValue(1L) // state evicted -> restart at 1
      q.stop()
      val ns = spark.table("t_ttl").filter(col("user_id") === 5L)
        .collect().map(_.getLong(1)).toSet
      assert(!ns.contains(3L), s"TTL failed to evict (count continued): $ns")
      assert(ns == Set(2L, 1L), s"expected restart after TTL eviction, got $ns")
    }
  }

  test("session monitor: out-of-order event that lowers session start re-arms the cap timer") {
    // Round-8 regression guard: an out-of-order (watermark-valid) event
    // lowering startMs used to update stored capAt while the REGISTERED
    // timer stayed at the old timestamp — the firing then failed the
    // `at == ts.capAt` staleness check and the duration cap was
    // silently lost (session closed as "inactivity" at the wrong time).
    import spark.implicits._
    implicit val sc = spark.sqlContext
    withConf(stateStoreRocksDb) {
      def ev(uid: Long, ms: Long) =
        Streaming.Ev(ms, new java.sql.Timestamp(ms), uid, "click", 1.0)
      val mem = MemoryStream[Streaming.Ev]
      // 30 s watermark delay keeps the 15000 event valid after the 20000 one
      val q = Streaming.sessionMonitor(mem.toDS(), gapMs = 10000L, maxDurMs = 60000L,
          watermarkDelay = "30 seconds")
        .writeStream.format("memory").queryName("t_sessmon_oo")
        .outputMode("append").start()
      mem.addData(ev(30, 20000)); q.processAllAvailable() // start=20000, cap armed at 80000
      mem.addData(ev(30, 15000)); q.processAllAvailable() // start drops -> cap must move to 75000
      // keep the session active past 75000 so only the cap can close it
      (23000L to 71000L by 8000L).foreach { ms =>
        mem.addData(ev(30, ms)); q.processAllAvailable()
      }
      mem.addData(ev(99, 300000)); q.processAllAvailable()
      mem.addData(ev(99, 400000)); q.processAllAvailable()
      q.stop()
      val closes = spark.table("t_sessmon_oo")
        .filter(col("user_id") === 30L && col("kind") =!= "idle_warning")
        .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(closes == Set(("duration_cap", 9L, 75000L)), s"got: $closes")
    }
  }

  test("rate source: Beam PeriodicImpulse parity (timestamped ticks drive a pipeline)") {
    val src = spark.readStream.format("rate").option("rowsPerSecond", "200").load()
    assert(src.isStreaming)
    assert(src.schema.fieldNames.toSeq == Seq("timestamp", "value"))
    val q = src.withColumn("bucket", col("value") % 10)
      .writeStream.format("memory").queryName("t_rate").outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        q.processAllAvailable()
        n = spark.table("t_rate").count()
      }
      assert(n > 0, "rate source produced no rows within 15s")
      assert(spark.table("t_rate").filter(col("bucket") >= 10).count() == 0)
    } finally q.stop()
  }

  test("Tier-L quality scoring runs unchanged on a document stream (stream equals batch)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = Seq(
      Streaming.Doc(1, "the quick brown fox of the north"),
      Streaming.Doc(2, "a a a a a"),
      Streaming.Doc(3, "unique words only here"))
    val mem = MemoryStream[Streaming.Doc]
    val q = Streaming.qualityScore(mem.toDF())
      .writeStream.format("memory").queryName("t_quality")
      .outputMode("append").start()
    mem.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_quality").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val batch = Streaming.qualityScore(docs.toDF()).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch && batch.size == 3)
  }

  test("stream-static broadcast enrichment: dict side input on an unbounded stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dim = Seq(("click", 10L), ("view", 20L)).toDF("event_type", "weight")
    // include a key the dim does not know: the null->default path
    val data = rows :+ Ev(6, ts(3, 4), 12, "purchase", 6.0)
    val mem = MemoryStream[Ev]
    val q = Streaming.enriched(mem.toDF(), dim)
      .writeStream.format("memory").queryName("t_enrich")
      .outputMode("append").start()
    mem.addData(data: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_enrich")
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val batch = Streaming.enriched(data.toDF(), dim)
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(batch.find(_.head == 6L).get.last == 0L, "unknown key must default, not drop")
    // the plan must broadcast the dim — never shuffle the stream side
    val plan = Streaming.enriched(data.toDF(), dim)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("governance validation flags and violation counters run unchanged on a stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val evs = Seq(
      Streaming.EvP(1, 10L, 5.0, """{"k": 1}"""),        // clean
      Streaming.EvP(2, 11L, -3.0, """{"k": 2}"""),       // value_nonpositive
      Streaming.EvP(3, null, 2.0, """{"k": 3}"""),       // user_id_null
      Streaming.EvP(4, 12L, 0.0, "not json"),            // value + props
      Streaming.EvP(5, 13L, 1.5, """{"other": 9}"""))    // props_malformed
    // stateless per-record flags: stream (append) ≡ batch
    val mem = MemoryStream[Streaming.EvP]
    val q = Streaming.validated(mem.toDF())
      .select(col("event_id"), col("ok"), concat_ws(",", col("violations")).as("v"))
      .writeStream.format("memory").queryName("t_validated")
      .outputMode("append").start()
    mem.addData(evs: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_validated").orderBy("event_id")
      .collect().map(_.toSeq).toSeq
    val batch = Streaming.validated(evs.toDF())
      .select(col("event_id"), col("ok"), concat_ws(",", col("violations")).as("v"))
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch && batch.size == 5)
    assert(batch.count(_(1) == 1) == 1, "only the clean record passes")
    // violation counters: one streaming aggregation, complete mode
    val mem2 = MemoryStream[Streaming.EvP]
    val q2 = Streaming.violationCounts(mem2.toDF())
      .writeStream.format("memory").queryName("t_violations")
      .outputMode("complete").start()
    mem2.addData(evs: _*)
    q2.processAllAvailable(); q2.stop()
    val counts = spark.table("t_violations").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("value_nonpositive" -> 2L, "user_id_null" -> 1L,
      "props_malformed" -> 2L))
  }

  test("streaming LSH near-dup: per-drop probe of the static corpus index equals batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val corpus = Seq(
      Streaming.Doc(1, "the quick brown fox jumps over the lazy dog tonight"),
      Streaming.Doc(2, "pack my box with five dozen liquor jugs right now"),
      Streaming.Doc(3, "sphinx of black quartz judge my vow immediately today")).toDF()
    val idx = Streaming.buildNearDupIndex(corpus, 64).persist()
    // drop 1 carries a verbatim dup of corpus doc 1; drop 2 is fresh text
    val b1 = Seq(Streaming.Doc(11, "the quick brown fox jumps over the lazy dog tonight"))
    val b2 = Seq(Streaming.Doc(12, "completely different words appear in this new document body"))
    val mem = MemoryStream[Streaming.Doc]
    val got = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = Streaming.nearDupStream(mem.toDF(), idx,
      out => got.synchronized { got ++= out.collect().map(_.toSeq) })
    // two separate micro-batches: the probe must be correct PER DROP,
    // with no dependence on what arrived in earlier batches
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = got.sortBy(_.head.toString).toSeq
    val batch = Streaming.nearDupProbe(idx, (b1 ++ b2).toDF())
      .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    val byId = streamed.map(r => r.head -> (r(1), r(2))).toMap
    assert(byId(11L) == ((1L, 0)), s"verbatim dup must match corpus doc: $byId")
    assert(byId(12L) == ((0L, 1)), s"fresh doc must be kept: $byId")
    // index maintenance: fold the accepted fresh doc in; a later drop
    // repeating it must now be flagged against the APPENDED doc, and a
    // probe of the original corpus must behave exactly as before
    val idx2 = Streaming.appendToIndex(idx, b2.toDF(), 64).persist()
    val b3 = Seq(Streaming.Doc(13, "completely different words appear in this new document body"))
    val after = Streaming.nearDupProbe(idx2, b3.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(after == Seq((13L, 1L, 0)), s"repeat of an appended doc must be flagged: $after")
    val still = Streaming.nearDupProbe(idx2, b1.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(still == Seq((11L, 1L, 0)), s"original corpus probe unchanged: $still")
    idx2.unpersist(); idx.unpersist()
  }

  test("idempotent batch sink: replaying a batch rewrites its partition, no duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val sink = Streaming.idempotentBatchSink(dir) _
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((3L, "z")).toDF("id", "v")
    sink(a, 0L); sink(b, 1L)
    sink(a, 0L) // failure replay: at-least-once delivery of batch 0
    val out = spark.read.parquet(dir)
    assert(out.count() == 3, "replay must not duplicate batch 0's rows")
    assert(out.filter(col("batch") === 0).count() == 2 &&
      out.filter(col("batch") === 1).count() == 1)
    // and a REVISED replay of the same batch id wins (overwrite, not merge)
    sink(a.filter(col("id") === 1), 0L)
    assert(spark.read.parquet(dir).filter(col("batch") === 0).count() == 1)
  }

  test("windowed top-k: rank over streamed window counts equals batch Top.PerKey") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val data = rows ++ Seq(
      Ev(6, ts(1, 2), 12, "view", 1.0), Ev(7, ts(1, 3), 13, "view", 1.0),
      Ev(8, ts(2, 4), 14, "error", 1.0), Ev(9, ts(2, 5), 15, "error", 1.0))
    val mem = MemoryStream[Ev]
    val q = Streaming.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("t_topk")
      .outputMode("complete").start()
    mem.addData(data: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = Streaming.topKPerWindow(spark.table("t_topk"), 2)
      .select("w_start_us", "rk", "event_type", "n")
      .orderBy("w_start_us", "rk").collect().map(_.toSeq).toSeq
    val batch = Streaming.topKPerWindow(Streaming.tumblingCounts(data.toDF()), 2)
      .select("w_start_us", "rk", "event_type", "n")
      .orderBy("w_start_us", "rk").collect().map(_.toSeq).toSeq
    assert(streamed == batch && streamed.nonEmpty, s"stream=$streamed batch=$batch")
    // per-window cap respected
    assert(streamed.groupBy(_.head).values.forall(_.size <= 2))
  }

  test("quantile gate: batch-trained cuts apply to a document stream, stream equals batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // the "corpus" the batch side trains cuts on
    val corpus = graft.Tables.documents(spark, sf("sf0.001"))
    val cuts = graft.queries.TextQueries.langCuts(corpus)
    val arriving = Seq(
      Streaming.GDoc(9001, "en", 500), Streaming.GDoc(9002, "en", 50),
      Streaming.GDoc(9003, "de", 300), Streaming.GDoc(9004, "zh", 60))
    val mem = MemoryStream[Streaming.GDoc]
    val q = Streaming.gated(mem.toDF(), cuts)
      .writeStream.format("memory").queryName("t_gate")
      .outputMode("append").start()
    mem.addData(arriving: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_gate").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val batch = Streaming.gated(arriving.toDF(), cuts).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.nonEmpty && streamed.forall(r => Set(0, 1)(r.last.asInstanceOf[Int])))
  }

  test("CDC snapshot: streamed changelog equals batch apply; tombstones drop and revive keys") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val b1 = Seq(
      Ev(1, ts(1, 1), 10, "signup", 1.0),
      Ev(2, ts(2, 1), 10, "click", 2.0),
      Ev(3, ts(1, 2), 11, "signup", 3.0),
      Ev(4, ts(3, 1), 12, "signup", 4.0),
      Ev(5, ts(4, 1), 12, "error", 0.0)) // tombstone: key 12 deleted
    val b2 = Seq(
      Ev(6, ts(5, 1), 10, "purchase", 5.0), // upsert across batches
      Ev(7, ts(6, 1), 12, "signup", 6.0))   // revival after tombstone
    val mem = MemoryStream[Ev]
    val q = Streaming.cdcSnapshot(mem.toDF())
      .writeStream.format("memory").queryName("t_cdc")
      .outputMode("complete").start()
    mem.addData(b1: _*)
    q.processAllAvailable()
    val mid = spark.table("t_cdc").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(mid == Map(10L -> "click", 11L -> "signup"),
      s"tombstoned key must be absent mid-stream: $mid")
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_cdc")
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    val batch = Streaming.cdcSnapshot((b1 ++ b2).toDF())
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.map(_.head) == Seq(10L, 11L, 12L),
      "revived key must reappear after a post-tombstone upsert")
  }

  test("streaming ANN probe: per-batch top-k against the static binary index equals batch and q163") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // static serving artifacts: the write-once ANN index + base vectors
    val idxPath = graft.queries.Round10Queries.annIndex(spark, sf("sf0.001"))
    val index = spark.read.parquet(idxPath).persist()
    val base = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .persist()
    // arriving queries = the q163 query set (vec_id < 8), two drops
    val qRows = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val (drop1, drop2) = qRows.partition(_._1 < 4)
    val mem = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = Streaming.annSearchStream(
      mem.toDF().toDF("q_id", "qv"), index, base, shortlist = 32, k = 5,
      out => got.synchronized { got ++= out.collect().map(_.toSeq) },
      excludeSelf = true) // q_id IS a corpus vec_id here (q163 parity)
    mem.addData(drop1.toSeq: _*); q.processAllAvailable()
    mem.addData(drop2.toSeq: _*); q.processAllAvailable()
    q.stop()
    def key(r: Seq[Any]) = (r.head.toString.toLong, r(1).toString.toInt)
    val streamed = got.sortBy(key).toSeq
    // stream ≡ batch: the same probe over all queries at once
    val batch = Streaming.annProbe(index, base,
        qRows.toSeq.toDF("q_id", "qv"), 32, 5, excludeSelf = true)
      .collect().map(_.toSeq).toSeq.sortBy(key)
    assert(streamed == batch, s"stream diverged from batch probe")
    // and ≡ the oracle-checked q163 rows (same shortlist/k/tiebreaks)
    val q163 = SparkEntry.queries("q163_hamming_ann")(spark, sf("sf0.001"))
      .select("q_id", "rn", "vec_id", "sim_q")
      .collect().map(_.toSeq).toSeq.sortBy(key)
    assert(streamed.map(r => (r.head, r(1).toString.toInt, r(2), r(3))) ==
      q163.map(r => (r.head, r(1).toString.toInt, r(2), r(3))),
      "streaming probe diverged from the oracle-checked q163 result")
    // graph twin: the same two drops through the graph serve path over
    // the write-once knngraph artifact ≡ the oracle-checked q171 rows
    val graphIdx = graft.queries.Round11Queries.knnGraphIndex(spark, sf("sf0.001"))
    val gMem = MemoryStream[(Long, Seq[Double])]
    val gGot = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val gq = Streaming.graphSearchStream(gMem.toDF().toDF("q_id", "qv"), graphIdx, base,
      k = 5, out => gGot.synchronized { gGot ++= out.collect().map(_.toSeq) })
    gMem.addData(drop1.toSeq: _*); gq.processAllAvailable()
    gMem.addData(drop2.toSeq: _*); gq.processAllAvailable()
    gq.stop()
    val q171 = SparkEntry.queries("q171_graph_ann")(spark, sf("sf0.001"))
      .select("q_id", "rn", "vec_id", "sim_q")
      .collect().map(_.toSeq).toSeq.sortBy(key)
    assert(q171.nonEmpty && gGot.toSeq.sortBy(key) == q171,
      "streaming graph search diverged from the oracle-checked q171 result")
    index.unpersist(); base.unpersist()
  }

  test("ANN index ingest loop: appends are served exactly like a from-scratch rebuild") {
    import graft.queries.Round10Queries
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
    // the IVFPQ model artifacts are FROZEN at initial build time (the
    // first 8/16 vectors — all inside the base slice), exactly like a
    // trained model file that later drops must reuse
    val vecs = e.select(col("vec_id"), col("v"))
    val cents = graft.queries.LlmQueries.ivfCentroids(vecs)
    val cb = graft.queries.LlmQueries.pqCodebook(vecs)
    val base = e.filter(col("vec_id") < 400)
    val drop1 = e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val drop2 = e.filter(col("vec_id") >= 450)
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_ingest").toString
    val idx = s"$root/incremental"
    Round10Queries.annIndexRows(base, cents, cb).write.parquet(idx)
    val baseRows = spark.read.parquet(idx).collect().map(_.toSeq).toSet
    // two ingest iterations
    Round10Queries.appendToAnnIndex(drop1, idx, cents, cb)
    Round10Queries.appendToAnnIndex(drop2, idx, cents, cb)
    assertListedAsCommitted(Artifacts.annidx(idx), "after two appends")
    // 1) pre-append rows are untouched: parquet append only adds files
    val afterBaseRows = spark.read.parquet(idx)
      .filter(col("vec_id") < 400).collect().map(_.toSeq).toSet
    assert(afterBaseRows == baseRows, "append must not disturb existing index rows")
    // 2) incremental ≡ rebuild: the appended index serves probes exactly
    //    like one built from the full corpus in a single pass
    val full = s"$root/rebuilt"
    Round10Queries.annIndexRows(e, cents, cb).write.parquet(full)
    val bv = e.select(col("vec_id"), col("v"))
    // queries INCLUDE appended vectors (two from each drop) — top-1 of a
    // self-query (excludeSelf=false) must be the vector itself at
    // 10000 bp, proving the new drops are findable through the index
    val qs = e.filter(col("vec_id").isin(100L, 410L, 420L, 460L, 470L))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    def probe(path: String): Seq[Seq[Any]] =
      Streaming.annProbe(spark.read.parquet(path), bv, qs, shortlist = 32, k = 5,
          excludeSelf = false) // self-query on purpose: top-1 must be the vector itself
        .collect().map(_.toSeq).toSeq
        .sortBy(r => (r.head.toString.toLong, r(1).toString.toInt))
    val inc = probe(idx)
    assert(inc == probe(full), "incremental index diverged from a from-scratch rebuild")
    val top1 = inc.filter(_(1).toString.toInt == 1)
      .map(r => r.head.toString.toLong -> (r(2).toString.toLong, r(3).toString.toLong)).toMap
    for (q <- Seq(410L, 420L, 460L, 470L)) {
      // self-cosine floors to 9999 or 10000 bp depending on fp rounding
      assert(top1(q)._1 == q && top1(q)._2 >= 9999L,
        s"appended vector $q must be findable as its own nearest neighbor, got ${top1(q)}")
    }
  }

  test("annidx maintenance is exactly-once under a replayed batch key") {
    // the ingest loop commits each micro-batch's annidx3 delete and
    // append under a key of its query's `del` and `add` scopes and the
    // batch id: applying the same batch again must change neither the
    // manifest, nor the files, nor the served rows
    import spark.implicits._
    import graft.queries.{LlmQueries, Round10Queries}
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .filter(col("vec_id") < 240)
    val vecs = e.select(col("vec_id"), col("v"))
    val (cents, cb) = (LlmQueries.ivfCentroids(vecs), LlmQueries.pqCodebook(vecs))
    val idx = Files.createTempDirectory("graft_annidx_replay").toString + "/annidx"
    Round10Queries.annIndexRows(e.filter(col("vec_id") < 200), cents, cb)
      .repartition(2).write.parquet(idx)
    val at = Artifacts.annidx(idx)
    def batch(): Unit = {
      Round10Queries.deleteFromAnnIndex(Seq(3L, 5L).toDF("vec_id"), idx,
        key = Some(Artifacts.Key("q/del", 7)))
      Round10Queries.appendToAnnIndex(e.filter(col("vec_id") >= 200), idx, cents, cb,
        key = Some(Artifacts.Key("q/add", 7)))
    }
    def files: Set[String] = Seq(idx, s"$idx.tombstones").filter(p => Files.exists(Paths.get(p)))
      .flatMap(p => Files.walk(Paths.get(p)).iterator().asScala.map(_.toString)).toSet
    def rows: Seq[String] =
      Round10Queries.readAnnIndex(spark, idx).collect().map(_.toString).toSeq.sorted
    batch()
    val (manifest, fileSet, served) = (Artifacts.snapshot(spark, at), files, rows)
    assert(manifest.marks == Map("q/del" -> 7L, "q/add" -> 7L), s"batch marks: ${manifest.marks}")
    assert(served.size == 200 - 2 + 40, s"one application serves ${served.size} rows")
    assertListedAsCommitted(at, "after the batch")
    batch()
    assert(Artifacts.snapshot(spark, at) == manifest, "a replayed batch must not commit")
    assert(files == fileSet, "a replayed batch must not write or delete a file")
    assert(rows == served, "a replayed batch must not change the served rows")
    // an older batch of the same scope is a replay too; a newer one lands
    Round10Queries.deleteFromAnnIndex(Seq(9L).toDF("vec_id"), idx, key = Some(Artifacts.Key("q/del", 6)))
    assert(Artifacts.snapshot(spark, at) == manifest, "an older batch must not commit")
    Round10Queries.deleteFromAnnIndex(Seq(9L).toDF("vec_id"), idx, key = Some(Artifacts.Key("q/del", 8)))
    assert(Artifacts.snapshot(spark, at).marks("q/del") == 8L && rows.size == served.size - 1,
      "a newer batch of the scope must commit")
  }

  test("two ingest loops over one annidx: each query commits under its own key scope") {
    // micro-batch ids restart at 0 in every new streaming query; the
    // exactly-once keys are scoped by the query id, so a second loop over
    // a layout an earlier loop mutated must still land its batch 0
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.queries.{LlmQueries, Round10Queries, Round11Queries}
    val joined = Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
      .join(Tables.embeddings(spark, sf("sf0.001"))
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), _.cast("double")).as("v")),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("label"), col("v"))
    val base = joined.filter(col("doc_id") < 200).localCheckpoint(true)
    val baseVecs = base.select(col("doc_id").as("vec_id"), col("v"))
    val (cents, cb) = (LlmQueries.ivfCentroids(baseVecs), LlmQueries.pqCodebook(baseVecs))
    val idxPath =
      java.nio.file.Files.createTempDirectory("graft_two_loops").toString + "/annidx"
    Round10Queries.annIndexRows(
        base.select(col("doc_id").as("vec_id"), col("label"), col("v")), cents, cb)
      .repartition(2).write.parquet(idxPath)
    val st = new Streaming.IngestState(
      Streaming.buildNearDupIndex(base.select("doc_id", "text"), 64), idxPath,
      Round11Queries.knnGraphBuild(baseVecs, 15, 30, 3)
        .select(col("src"), col("nb"), col("sim")).localCheckpoint(false),
      baseVecs.localCheckpoint(true), cents, cb)
    def vecOf(id: Long): Seq[Double] =
      joined.filter(col("doc_id") === id).select("v").collect().head.getSeq[Double](0)
    def runLoop(drop: Seq[Streaming.IngestDoc]): java.util.UUID = {
      val mem = MemoryStream[Streaming.IngestDoc]
      val q = Streaming.ingestLoop(mem.toDF(), st, bandCap = 64, kInt = 15,
        undCap = 30, compactEvery = 0, compactTarget = 64L << 20)
      mem.addData(drop: _*); q.processAllAvailable()
      q.stop()
      q.id
    }
    val q1 = runLoop(Seq(Streaming.IngestDoc(450,
      "first loop arrival describing an entirely fresh retrieval topic", 2, vecOf(450))))
    val q2 = runLoop(Seq(Streaming.IngestDoc(7, "", 0, Seq.empty, op = "del"),
      Streaming.IngestDoc(470,
        "second loop arrival about unrelated ingestion restart semantics", 0, vecOf(470))))
    val ids = Round10Queries.readAnnIndex(spark, idxPath).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 200L).toSet - 7L + 450L + 470L,
      "the second loop's batch 0 must land on the layout the first loop mutated")
    val at = Artifacts.annidx(idxPath)
    assert(Artifacts.snapshot(spark, at).marks ==
      Map(s"$q1/add" -> 0L, s"$q2/del" -> 0L, s"$q2/add" -> 0L),
      "each query's batches commit under its own id")
    assertListedAsCommitted(at, "after two loops")
  }

  test("re-add under a tombstoned id: append supersedes the pending delete in both artifacts") {
    import spark.implicits._
    import graft.queries.{Round10Queries, Round11Queries}
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val root = java.nio.file.Files.createTempDirectory("graft_readd").toString
    // --- annidx3: delete id 100, then re-ingest it BEFORE any purge ---
    val vecs = e.select(col("vec_id"), col("v"))
    val cents = graft.queries.LlmQueries.ivfCentroids(vecs)
    val cb = graft.queries.LlmQueries.pqCodebook(vecs)
    val idx = s"$root/annidx"
    Round10Queries.annIndexRows(e.filter(col("vec_id") < 400), cents, cb)
      .repartition(4).write.parquet(idx)
    Round10Queries.deleteFromAnnIndex(Seq(100L).toDF("vec_id"), idx)
    assert(Round10Queries.readAnnIndex(spark, idx)
      .filter(col("vec_id") === 100L).count() == 0, "delete must hide the id")
    // a DISJOINT drop must not disturb the pending delete (O(|drop|) path)
    Round10Queries.appendToAnnIndex(
      e.filter(col("vec_id") === 450L).select("vec_id", "label", "v"), idx, cents, cb)
    assert(new java.io.File(idx + ".tombstones").exists(),
      "disjoint append must leave the sidecar in place")
    assert(Round10Queries.readAnnIndex(spark, idx)
      .filter(col("vec_id") === 100L).count() == 0)
    // the OVERLAPPING drop supersedes the tombstone: the re-added row is
    // visible, held exactly once, and survives the next purge
    Round10Queries.appendToAnnIndex(
      e.filter(col("vec_id") === 100L).select("vec_id", "label", "v"), idx, cents, cb)
    assert(Round10Queries.readAnnIndex(spark, idx)
      .filter(col("vec_id") === 100L).count() == 1,
      "re-added id must be visible exactly once (no stale twin, no hidden row)")
    Round10Queries.purgeAnnIndex(spark, idx)
    assertListedAsCommitted(Artifacts.annidx(idx), "after the re-add and purge")
    assert(spark.read.parquet(idx).filter(col("vec_id") === 100L).count() == 1,
      "a later purge must not drop the re-added row")
    // --- knngraph artifact: same sequence through the graph lifecycle ---
    val bOld = e.filter(col("vec_id") < 150).select(col("vec_id"), col("v"))
    val knng = s"$root/knng"
    Round11Queries.knnGraphBuild(bOld, 10, 20, 2)
      .select(col("src"), col("nb"), col("sim"))
      .repartition(4).write.parquet(s"$knng/graph")
    Round11Queries.cappedBuckets(Round11Queries.bucketMembership(bOld))
      .select(col("t"), col("bk"), col("nb"))
      .repartition(2).write.parquet(s"$knng/buckets")
    Round11Queries.deleteFromKnnGraphIndex(spark, knng, Seq(42L).toDF("vec_id"))
    val b = e.select(col("vec_id"), col("v"))
    Round11Queries.appendToKnnGraphIndex(spark, knng, b,
      e.filter(col("vec_id") === 42L).select(col("vec_id"), col("v")))
    assert(!new java.io.File(s"$knng/tombstones").exists(),
      "overlapping append must supersede the pending graph tombstone")
    val (g2, lists2) = Round11Queries.readKnnGraphIndex(spark, knng)
    assert(g2.filter(col("src") === 42L).count() > 0,
      "re-added node must have edges in the artifact read")
    assert(lists2.filter(col("nb") === 42L).count() > 0,
      "re-added node must be back in the bucket candidate lists")
    // and a later compaction keeps it (the delete is fully superseded)
    Round11Queries.compactKnnGraphIndex(spark, knng)
    assertListedAsCommitted(Artifacts.knngraph(knng), "after the re-add and compaction")
    assert(spark.read.parquet(s"$knng/graph")
      .filter(col("src") === 42L).count() > 0,
      "compaction after the re-add must keep the node's edges")
  }

  test("kNN-graph ingest loop: drop folds in, old lists only improve, recall tracks a rebuild") {
    import graft.queries.Round11Queries
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val bOld = e.filter(col("vec_id") < 400)
    val drop = e.filter(col("vec_id") >= 400)
    val g0 = Round11Queries.knnGraphBuild(bOld, kInt = 15, undCap = 30, rounds = 3)
      .select(col("src"), col("nb"), col("sim")).localCheckpoint(false)
    def lists(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Int, Long, Long)]] =
      df.select("src", "rn", "nb", "sim").collect()
        .map(r => (r.getLong(0), (r.getAs[Number](1).intValue(), r.getLong(2), r.getLong(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    val inc = Round11Queries.appendToKnnGraph(g0, bOld, drop, kInt = 15, undCap = 30)
    val incL = lists(inc)
    // 1) every node of the GROWN corpus has a list; drop nodes included
    assert(incL.keySet == (0L until 500L).toSet,
      s"grown graph must cover all 500 nodes, missing ${(0L until 500L).toSet -- incL.keySet}")
    // 2) determinism: a second invocation lands bit-identical lists
    assert(lists(Round11Queries.appendToKnnGraph(g0, bOld, drop, 15, 30)) == incL,
      "incremental maintenance must be deterministic")
    // 3) the improvement invariant: an existing node's rank-r sim can
    //    only rise (the round's candidates contain every old edge)
    val oldL = lists(Round11Queries.knnGraphBuild(bOld, 15, 30, 3))
    for ((node, old) <- oldL; ((_, _, oldSim), i) <- old.zipWithIndex) {
      val newSim = incL(node)(i)._3
      assert(newSim >= oldSim,
        s"node $node rank ${i + 1}: sim fell $oldSim -> $newSim after append")
    }
    // 4) recall@5 of the incremental graph tracks a from-scratch
    //    converged rebuild on the grown corpus (both deterministic here;
    //    the rebuild gets 3 fresh rounds vs the append's single one)
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cosBp(a: Array[Double], b: Array[Double]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 10000).toLong
    val ids = vecs.keys.toSeq.sorted
    val gt: Map[Long, Set[Long]] = ids.map { a =>
      a -> ids.filter(_ != a)
        .map(bid => (cosBp(vecs(a), vecs(bid)), bid))
        .sortBy { case (sm, bid) => (-sm, bid) }.take(5).map(_._2).toSet
    }.toMap
    def recall(l: Map[Long, Seq[(Int, Long, Long)]]): Double =
      ids.map(a => (l(a).take(5).map(_._2).toSet & gt(a)).size).sum / (5.0 * ids.size)
    val rInc = recall(incL)
    val rReb = recall(lists(Round11Queries.knnGraphBuild(e, 15, 30, 3)))
    assert(rInc >= rReb - 0.05,
      s"incremental recall $rInc fell more than 0.05 below rebuild $rReb")
  }

  test("composed ingest loop: gate, band index, ANN index, kNN graph and compaction share one pass") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.queries.{LlmQueries, Round10Queries, Round11Queries}
    // base corpus 0..399: fixture text + the embedding sharing its id
    val joined = Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
      .join(Tables.embeddings(spark, sf("sf0.001"))
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), _.cast("double")).as("v")),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("label"), col("v"))
    val base = joined.filter(col("doc_id") < 400).localCheckpoint(true)
    val baseVecs = base.select(col("doc_id").as("vec_id"), col("v"))
    val cents = LlmQueries.ivfCentroids(baseVecs)
    val cb = LlmQueries.pqCodebook(baseVecs)
    val idxPath =
      java.nio.file.Files.createTempDirectory("graft_ingest_e2e").toString + "/annidx"
    Round10Queries.annIndexRows(
        base.select(col("doc_id").as("vec_id"), col("label"), col("v")), cents, cb)
      .repartition(6).write.parquet(idxPath)
    val st = new Streaming.IngestState(
      Streaming.buildNearDupIndex(base.select("doc_id", "text"), 64),
      idxPath,
      Round11Queries.knnGraphBuild(baseVecs, 15, 30, 3)
        .select(col("src"), col("nb"), col("sim")).localCheckpoint(false),
      baseVecs.localCheckpoint(true),
      cents, cb,
      layers = Some(Round11Queries.hnswLayers(baseVecs).localCheckpoint(false)))
    // drops: d1 = a verbatim dup of base doc 5 (id 900) + fresh doc 450
    // (novel text, the held-out embedding); d2 = a REPEAT of 450's text
    // (id 901 — must be rejected against the index AS APPENDED by d1,
    // the composition proof) + fresh doc 470
    def vecOf(id: Long): Seq[Double] =
      joined.filter(col("doc_id") === id).select("v").collect().head.getSeq[Double](0)
    val text5 = base.filter(col("doc_id") === 5).select("text").collect().head.getString(0)
    val fresh450 = "entirely new survivor document about deterministic ingest loops today"
    val fresh470 = "another genuinely novel arrival covering compaction economics in detail"
    val d1 = Seq(Streaming.IngestDoc(900, text5, 1, vecOf(5)),
                 Streaming.IngestDoc(450, fresh450, 2, vecOf(450)))
    val d2 = Seq(Streaming.IngestDoc(901, fresh450, 3, vecOf(450)),
                 Streaming.IngestDoc(470, fresh470, 0, vecOf(470)))
    val mem = MemoryStream[Streaming.IngestDoc]
    val verdicts = scala.collection.mutable.Map[Long, Map[Long, Int]]()
    val q = Streaming.ingestLoop(mem.toDF(), st, bandCap = 64, kInt = 15,
      undCap = 30, compactEvery = 2, compactTarget = 64L << 20,
      (id, v) => verdicts.synchronized {
        verdicts(id) = v.select("doc_id", "kept").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
      })
    mem.addData(d1: _*); q.processAllAvailable()
    mem.addData(d2: _*); q.processAllAvailable()
    q.stop()
    // 1) gate verdicts: dup rejected per drop; 901 rejected against the
    //    APPENDED survivor from drop 1, not the base corpus
    assert(verdicts(0L) == Map(900L -> 0, 450L -> 1), s"drop1: ${verdicts.get(0L)}")
    assert(verdicts(1L) == Map(901L -> 0, 470L -> 1), s"drop2: ${verdicts.get(1L)}")
    val surviving = (0L until 400L).toSet + 450L + 470L
    // 2) ANN index: exactly the survivors, findable via the probe
    val idxIds = spark.read.parquet(idxPath).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(idxIds == surviving, "ANN index must hold base + survivors, nothing else")
    val probeQs = Seq((450L, vecOf(450)), (470L, vecOf(470)), (100L, vecOf(100)))
      .toDF("q_id", "qv")
    val top1 = Streaming.annProbe(spark.read.parquet(idxPath),
        st.corpus.select(col("vec_id"), col("v")), probeQs,
        shortlist = 32, k = 5, excludeSelf = false)
      .filter(col("rn") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    for (qid <- Seq(450L, 470L, 100L))
      assert(top1(qid)._1 == qid && top1(qid)._2 >= 9999L,
        s"survivor $qid must be its own nearest neighbor, got ${top1(qid)}")
    // 3) kNN graph: covers exactly the survivors (dups never entered)
    val graphIds = st.graph.select("src").distinct().collect().map(_.getLong(0)).toSet
    assert(graphIds == surviving, "graph must cover base + survivors, nothing else")
    // 4) in-loop compaction (ran after drop 2) collapsed the manifest to
    //    one file without changing the row set, and is idempotent
    assert(spark.read.parquet(idxPath).inputFiles.length == 1,
      "periodic compaction must fold the ingest tail into one file")
    assert(Round10Queries.compactAnnIndex(spark, idxPath, 64L << 20) == 0)
    // 5) byte-identity: the compacted incremental index serves exactly
    //    like a from-scratch build over base + survivors
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_ingest_reb").toString + "/idx"
    Round10Queries.annIndexRows(st.corpus
        .join(Seq((450L, 2), (470L, 0)).toDF("vec_id", "lb"), Seq("vec_id"), "left")
        .join(base.select(col("doc_id").as("vec_id"), col("label").as("bl")), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("lb"), col("bl")).cast("int").as("label"), col("v")),
      cents, cb).write.parquet(rebuilt)
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toSeq).toSet
    assert(rows(idxPath) == rows(rebuilt),
      "incremental + compacted index must equal a from-scratch rebuild row set")
    // 6) the HNSW layer state was maintained in the same pass: it covers
    //    exactly the PROMOTED survivors per level (dups reached no layer),
    //    and the maintained hierarchy SERVES — external queries carrying a
    //    survivor's embedding find it as their hierarchical top-1
    def lvlOf(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val h = java.lang.Long.parseLong(hex, 16)
      (1 to 8).foldLeft(0)((acc, l) => if (h % math.pow(4, l).toLong == 0) l else acc)
    }
    val layerIds = st.layers.get.select("lvl", "src", "nb").collect()
      .flatMap(r => Seq((r.getInt(0), r.getLong(1)), (r.getInt(0), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((l, ids) <- layerIds) {
      val promoted = surviving.filter(lvlOf(_) >= l)
      assert(ids.subsetOf(promoted),
        s"level $l holds non-survivor or unpromoted ids: ${ids -- promoted}")
    }
    val hQs = Seq((9450L, vecOf(450)), (9470L, vecOf(470)), (9100L, vecOf(100)))
      .toDF("q_id", "qv")
    val hTop1 = Round11Queries.hnswSearch(st.layers.get, st.graph,
        st.corpus.select(col("vec_id"), col("v")), hQs)
      .filter(col("rn") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    for ((qid, want) <- Seq((9450L, 450L), (9470L, 470L), (9100L, 100L)))
      assert(hTop1(qid)._1 == want && hTop1(qid)._2 >= 9999L,
        s"hierarchical serve for $qid must find $want, got ${hTop1(qid)}")
  }

  test("knngraph ARTIFACT lifecycle: on-disk append serves, delete hides, compaction restores shape") {
    import spark.implicits._
    import graft.queries.Round11Queries
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val bOld = e.filter(col("vec_id") < 400)
    val drop = e.filter(col("vec_id") >= 400)
    val root = java.nio.file.Files.createTempDirectory("graft_knng_art").toString + "/knng"
    // lay the artifact down exactly as knnGraphIndex does, on the base slice
    Round11Queries.knnGraphBuild(bOld, 15, 30, 3)
      .select(col("src"), col("nb"), col("sim"))
      .repartition(8).write.parquet(s"$root/graph")
    Round11Queries.cappedBuckets(Round11Queries.bucketMembership(bOld))
      .select(col("t"), col("bk"), col("nb"))
      .repartition(4).write.parquet(s"$root/buckets")
    def vecOf(id: Long): Seq[Double] =
      e.filter(col("vec_id") === id).select("v").collect().head.getSeq[Double](0)
    // every probe goes THROUGH the streaming serve loop: each micro-batch
    // re-plans the delete-aware artifact read, so the mutation sequence
    // below (append → delete → compact) is visible batch to batch — the
    // claim graphSearchStream makes
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val served = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long)]]()
    val sq = Streaming.graphSearchStream(
      mem.toDF().toDF("q_id", "qv"), root, e, k = 5,
      df => served.synchronized {
        served += df.select("rn", "vec_id", "sim_q").collect()
          .sortBy(_.getAs[Number]("rn").intValue())
          .map(r => (r.getLong(1), r.getLong(2))).toSeq
      })
    def search(qid: Long, qv: Seq[Double]): Seq[(Long, Long)] = {
      mem.addData((qid, qv)); sq.processAllAvailable()
      served.synchronized(served.last)
    }
    // the manifest version is the artifact's change key: every commit
    // raises it, a no-op leaves it
    val at = Artifacts.knngraph(root)
    def version = Artifacts.snapshot(spark, at).version
    val v0 = version
    // 0) the same probe BEFORE the append, in this session: 450 is not
    //    in the artifact yet — any serve-side cache of the graph must be
    //    invalidated by the append below
    val before = search(9450L, vecOf(450))
    assert(before.nonEmpty && !before.exists(_._1 == 450L),
      s"450 is not in the artifact before the append, got $before")
    // 1) on-disk append: the drop becomes findable through the ARTIFACT;
    //    a replay of the same batch key changes nothing
    val key = Some(Artifacts.Key("q/add", 1))
    Round11Queries.appendToKnnGraphIndex(spark, root, e, drop, key = key)
    val v1 = version
    assert(v1 > v0, s"append must raise the version: $v0 -> $v1")
    assertListedAsCommitted(at, "after the append")
    Round11Queries.appendToKnnGraphIndex(spark, root, e, drop, key = key)
    assert(version == v1, "a replayed batch key must not commit again")
    val hit = search(9450L, vecOf(450))
    assert(hit.head._1 == 450L && hit.head._2 >= 9999L,
      s"appended vector must serve from the on-disk artifact, got $hit")
    // 2) logical delete hides the id from every serve path
    Round11Queries.deleteFromKnnGraphIndex(spark, root, Seq(450L).toDF("vec_id"))
    val v2 = version
    assert(v2 > v1, s"delete must raise the version: $v1 -> $v2")
    assertListedAsCommitted(at, "after the delete")
    val afterDel = search(9450L, vecOf(450))
    assert(!afterDel.exists(_._1 == 450L),
      s"deleted vector must not serve, got $afterDel")
    // 3) compaction: physical purge + exact bounded shape, probes keep
    //    their answers
    val replaced = Round11Queries.compactKnnGraphIndex(spark, root)
    assert(replaced > 0, "compaction must have deltas to fold")
    val v3 = version
    assert(v3 > v2, s"compaction must raise the version: $v2 -> $v3")
    assertListedAsCommitted(at, "after the compaction")
    assert(!new java.io.File(s"$root/tombstones").exists(),
      "compaction must clear the tombstone sidecar")
    val g2 = spark.read.parquet(s"$root/graph")
    assert(g2.filter(col("src") === 450L || col("nb") === 450L).count() == 0,
      "compaction must physically drop tombstoned edges")
    val maxDeg = g2.groupBy("src").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxDeg <= 15, s"compacted per-node degree must be <= 15, got $maxDeg")
    val maxBk = spark.read.parquet(s"$root/buckets")
      .groupBy("t", "bk").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxBk <= 64, s"compacted bucket lists must be re-capped at 64, got $maxBk")
    // pruning the delta reverse-edges back to the top-k bound CAN
    // narrow reachability at the tail (measured: one rank-3 swap on
    // this fixture) — pin what the rewrite must preserve: the best
    // answer, the bulk of the beam, and the deleted id staying hidden
    val afterCompact = search(9450L, vecOf(450))
    assert(afterCompact.head == afterDel.head,
      s"compaction must keep the probe's top answer: $afterDel -> $afterCompact")
    assert((afterCompact.map(_._1).toSet & afterDel.map(_._1).toSet).size >= 3,
      s"compaction changed most of the beam: $afterDel -> $afterCompact")
    assert(!afterCompact.exists(_._1 == 450L), "deleted id resurfaced after compaction")
    assert(search(9470L, vecOf(470)).head._1 == 470L,
      "other appended vectors must still serve after compaction")
    // 4) idempotent: a compaction over a compacted manifest is a no-op
    assert(Round11Queries.compactKnnGraphIndex(spark, root) == 0)
    assert(version == v3, "a no-op compaction must not commit")
    sq.stop()
  }

  test("resident knngraph serve: each probe equals a file-scan walk across append, delete, compaction and rebuild") {
    import spark.implicits._
    import graft.queries.Round11Queries
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    // the checkpointed base keeps the walk's index resident; the file-scan
    // base `e` and the manifest's own scans are never kept
    val base = e.localCheckpoint(true)
    val root = java.nio.file.Files.createTempDirectory("graft_knng_resident").toString + "/knng"
    val at = Artifacts.knngraph(root)
    def vecOf(id: Long): Seq[Double] =
      e.filter(col("vec_id") === id).select("v").collect().head.getSeq[Double](0)
    val q = Seq(450L, 470L, 13L).map(id => (9000L + id, vecOf(id))).toDF("q_id", "qv")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("q_id", "vec_id", "sim").collect().map(_.toString).toSeq.sorted
    def probe(when: String): Seq[String] = {
      val (g, lists) = Round11Queries.readKnnGraphIndex(spark, root)
      val got = rows(Round11Queries.graphSearch(g.select(col("src"), col("nb")), lists, base, q)._1)
      val m = Artifacts.snapshot(spark, at)
      val want = rows(Round11Queries.graphSearch(m.live(spark, "graph", "src", "nb")
        .select(col("src"), col("nb")), m.live(spark, "buckets", "nb"), e, q)._1)
      val same = got == want
      assert(same, s"$when: the resident serve differs from the file-scan walk " +
        s"at manifest ${m.version}:\n${got.diff(want).take(5)}\nvs\n${want.diff(got).take(5)}")
      got
    }
    def layDown(b: org.apache.spark.sql.DataFrame): Unit = {
      Round11Queries.knnGraphBuild(b, 15, 30, 1).select(col("src"), col("nb"), col("sim"))
        .repartition(4).write.parquet(s"$root/graph")
      Round11Queries.cappedBuckets(Round11Queries.bucketMembership(b))
        .select(col("t"), col("bk"), col("nb")).repartition(2).write.parquet(s"$root/buckets")
    }
    def mutate(drop: org.apache.spark.sql.DataFrame, del: Long): Unit = {
      Round11Queries.appendToKnnGraphIndex(spark, root, e, drop)
      Round11Queries.deleteFromKnnGraphIndex(spark, root, Seq(del).toDF("vec_id"))
      assert(Round11Queries.compactKnnGraphIndex(spark, root) > 0)
    }
    layDown(e.filter(col("vec_id") < 400))
    val p0 = probe("before the append")
    Round11Queries.appendToKnnGraphIndex(spark, root, e, e.filter(col("vec_id") >= 400))
    val p1 = probe("after the append")
    assert(p1 != p0, "the append must change the probe's answer")
    Round11Queries.deleteFromKnnGraphIndex(spark, root, Seq(450L).toDF("vec_id"))
    val p2 = probe("after the delete")
    assert(p2 != p1, "the delete must change the probe's answer")
    assert(Round11Queries.compactKnnGraphIndex(spark, root) > 0)
    val p3 = probe("after the compaction")
    val v3 = Artifacts.snapshot(spark, at).version
    // delete the artifact and rebuild it at the same path, up to the
    // same version with other content and no serve in between: a
    // snapshot keyed on the bare version number would answer from the
    // old files
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    layDown(e.filter(col("vec_id") < 300))
    mutate(e.filter(col("vec_id").between(300, 399)), 13L)
    val rebuilt = Artifacts.snapshot(spark, at).version
    assert(rebuilt == v3, s"the rebuild must reach the served version $v3, got $rebuilt")
    val p4 = probe("after the delete and rebuild")
    assert(p4 != p3, "the rebuild must change the probe's answer")
  }

  test("resident knngraph serve: a repeat request runs only the walk; one snapshot per root") {
    import spark.implicits._
    import graft.queries.Round11Queries
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val base = e.localCheckpoint(true)
    val root = java.nio.file.Files.createTempDirectory("graft_knng_jobs").toString + "/knng"
    Artifacts.commit(spark, Artifacts.knngraph(root), "build")(_ => Some(Artifacts.Change(Seq(
      "graph" -> Round11Queries.knnGraphBuild(e.filter(col("vec_id") < 400), 15, 30, 1)
        .select(col("src"), col("nb"), col("sim")),
      "buckets" -> Round11Queries.cappedBuckets(
        Round11Queries.bucketMembership(e.filter(col("vec_id") < 400)))
        .select(col("t"), col("bk"), col("nb"))))))
    val q = e.filter(col("vec_id") < 8).collect()
      .map(r => (9000L + r.getLong(0), r.getSeq[Double](1))).toSeq.toDF("q_id", "qv")
    def serve(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      val (g, lists) = Round11Queries.readKnnGraphIndex(spark, root)
      Round11Queries.graphSearch(g.select(col("src"), col("nb")), lists, base, q)._1.collect()
      (g, lists)
    }
    serve()
    spark.catalog.clearCache()
    val repeat = jobsOf(serve())
    assert(repeat == 1, s"a repeat request at one manifest must run only the walk, ran $repeat jobs")
    // three commits, each served: only the newest snapshot stays persisted
    def checkpoints(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }
    val snapshots = Seq(400L, 401L, 402L).map { id =>
      Round11Queries.deleteFromKnnGraphIndex(spark, root, Seq(id).toDF("vec_id"))
      val (g, lists) = serve()
      checkpoints(g) ++ checkpoints(lists)
    }
    assert(snapshots.forall(_.size == 2) && snapshots.flatten.distinct.size == 6,
      s"each commit must read a new snapshot of two checkpoints: $snapshots")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(snapshots.flatten.filter(persisted.contains) == snapshots.last,
      s"only the newest snapshot may stay persisted: $snapshots, persisted ${persisted.toSeq.sorted}")
  }

  test("knngraph compaction re-caps the bucket lists exactly as the build caps the live corpus") {
    import spark.implicits._
    import graft.queries.Round11Queries
    val e0 = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    // the fixture twice under fresh ids: a copy shares its original's
    // buckets, so the fullest lists pass the cap of 64 and the cap cuts
    val e = e0.unionByName(e0.select((col("vec_id") + 500).as("vec_id"), col("v")))
      .localCheckpoint()
    val bOld = e.filter(col("vec_id") < 800)
    val drop = e.filter(col("vec_id") >= 800)
    val root = java.nio.file.Files.createTempDirectory("graft_knng_cap").toString + "/knng"
    // a fresh artifact, committed as knnGraphIndex commits its build
    Artifacts.commit(spark, Artifacts.knngraph(root), "build")(_ => Some(Artifacts.Change(Seq(
      "graph" -> Round11Queries.knnGraphBuild(bOld, 15, 30, 1).select(col("src"), col("nb"), col("sim")),
      "buckets" -> Round11Queries.cappedBuckets(Round11Queries.bucketMembership(bOld))
        .select(col("t"), col("bk"), col("nb"))))))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
      df.select("t", "bk", "nb").orderBy("t", "bk", "nb").collect().toSeq
    def compacted(): Seq[org.apache.spark.sql.Row] = {
      assert(Round11Queries.compactKnnGraphIndex(spark, root) > 0, "compaction must have work to do")
      rows(Artifacts.snapshot(spark, Artifacts.knngraph(root)).read(spark, "buckets"))
    }
    // 1) append the drop, retire some of it, compact: the lists are the
    //    build's cap over the live corpus, row for row
    Round11Queries.appendToKnnGraphIndex(spark, root, e, drop)
    val dels1 = Seq(805L, 861L, 950L)
    Round11Queries.deleteFromKnnGraphIndex(spark, root, dels1.toDF("vec_id"))
    val live1 = Round11Queries.bucketMembership(e.filter(!col("vec_id").isin(dels1: _*)))
    val fullest = live1.groupBy("t", "bk").count().agg(max("count")).collect()(0).getLong(0)
    assert(fullest > 64, s"the fullest live bucket holds $fullest ids: the cap must cut")
    val want1 = Round11Queries.cappedBuckets(live1)
    assert(compacted() == rows(want1),
      "compacted buckets differ from cappedBuckets over the live corpus's membership")
    // 2) retire base ids, many of them kept members of full buckets, and
    //    compact again: the same cap over the live members the artifact
    //    holds. It never stored the members the build's cap pruned, so a
    //    full bucket that lost kept members refills only from the held
    //    rows, not as a rebuild over the live corpus would.
    val dels2 = (0L to 300L by 3L)
    Round11Queries.deleteFromKnnGraphIndex(spark, root, dels2.toDF("vec_id"))
    val held = want1.select(col("t"), col("bk"), col("nb").as("vec_id"))
    val live2 = Round11Queries.bucketMembership(e.filter(!col("vec_id").isin(dels1 ++ dels2: _*)))
      .join(held, Seq("t", "bk", "vec_id"), "left_semi")
    assert(compacted() == rows(Round11Queries.cappedBuckets(live2)),
      "compacted buckets differ from cappedBuckets over the held live membership")
  }

  test("HNSW maintenance of an empty drop or delete set returns the layers unchanged") {
    import graft.queries.Round11Queries
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val bOld = e.filter(col("vec_id") < 400)
    val layers0 = Round11Queries.hnswLayers(bOld).localCheckpoint(false)
    def rows(df: org.apache.spark.sql.DataFrame): Set[org.apache.spark.sql.Row] =
      df.select("lvl", "src", "nb", "sim").collect().toSet
    val before = rows(layers0)
    val none = e.filter(col("vec_id") < 0)
    assert(rows(Round11Queries.appendToHnsw(layers0, bOld, none)) == before,
      "an empty drop must leave every layer as it was")
    assert(rows(Round11Queries.deleteFromHnsw(layers0, bOld, none.select(col("vec_id")))) == before,
      "an empty delete set must leave every layer as it was")
  }

  test("cluster ingest loop: merges monotone, rebuild refines incremental, deletes re-elect reps") {
    import graft.queries.Round11Queries
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val bOld = e.filter(col("vec_id") < 400)
    val drop = e.filter(col("vec_id") >= 400)
    val gOld = Round11Queries.knnGraphBuild(bOld, 15, 30, 3)
      .select(col("src"), col("nb"), col("sim")).localCheckpoint(false)
    val thr = Round11Queries.clusterThreshold(gOld)
    val c0 = Round11Queries.clusterMap(bOld.select("vec_id"), gOld, thr)
      .localCheckpoint(false)
    val gNew = Round11Queries.appendToKnnGraph(gOld, bOld, drop, 15, 30)
      .select(col("src"), col("nb"), col("sim")).localCheckpoint(false)
    def cmap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("vec_id", "cluster_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1df = Round11Queries.appendToClusters(
      c0, gNew, drop.select("vec_id"), thr).localCheckpoint(false)
    val c1 = cmap(c1df)
    // 1) coverage + determinism
    assert(c1.keySet == (0L until 500L).toSet, "grown map must cover all 500 ids")
    assert(cmap(Round11Queries.appendToClusters(c0, gNew, drop.select("vec_id"), thr)) == c1,
      "cluster maintenance must be deterministic")
    // 2) monotone merges: an old cluster's members never separate
    for ((_, members) <- cmap(c0).groupBy(_._2).view.mapValues(_.keys.toSeq)) {
      assert(members.map(c1).distinct.size == 1,
        s"old cluster ${members.take(3)}... split after append")
    }
    // 3) a frozen-threshold rebuild on the grown graph REFINES the
    //    incremental map: rebuild-connected => incremental-connected
    val cR = cmap(Round11Queries.clusterMap(e.select("vec_id"), gNew, thr))
    for ((_, members) <- cR.groupBy(_._2).view.mapValues(_.keys.toSeq)) {
      assert(members.map(c1).distinct.size == 1,
        s"rebuild cluster ${members.take(3)}... straddles incremental clusters")
    }
    // 4) the append actually merged drop arrivals somewhere (the fixture
    //    corpus has near-dup structure across the 400-cut)
    assert((400L until 500L).exists(id => c1(id) < 400L),
      "no drop id joined a base cluster — the mutual pass saw nothing")
    // 5) decision-table integrity after a delete that retires a
    //    REPRESENTATIVE: members stay together, min survivor re-elected
    val rep = c1.values.groupBy(identity).collectFirst {
      case (cid, occ) if occ.size >= 3 => cid
    }.getOrElse(fail("fixture must have a cluster of >= 3 members"))
    import spark.implicits._
    val c2df = Round11Queries.deleteFromClusters(c1df, Seq(rep).toDF("vec_id"))
    val c2 = cmap(c2df)
    assert(!c2.contains(rep), "deleted representative must leave the map")
    val orphans = c1.filter { case (id, cid) => cid == rep && id != rep }.keys.toSeq
    assert(orphans.map(c2).distinct.size == 1 &&
      c2(orphans.head) == orphans.min,
      s"cluster of $rep must stay together under min survivor ${orphans.min}")
    val kept2 = c2df.filter(col("kept") === 1).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept2.contains(orphans.min), "re-elected representative must be kept")
    c2df.groupBy(col("cluster_id")).agg(countDistinct(col("split")).as("s"))
      .collect().foreach(r => assert(r.getLong(1) == 1L,
        s"cluster ${r.getLong(0)} straddles a split after delete"))
  }

  test("CDC ingest: a delete retires the id from every artifact and frees the gate") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.queries.{LlmQueries, Round10Queries, Round11Queries}
    val joined = Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
      .join(Tables.embeddings(spark, sf("sf0.001"))
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), _.cast("double")).as("v")),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("label"), col("v"))
    val base = joined.filter(col("doc_id") < 400).localCheckpoint(true)
    val baseVecs = base.select(col("doc_id").as("vec_id"), col("v"))
    val cents = LlmQueries.ivfCentroids(baseVecs)
    val cb = LlmQueries.pqCodebook(baseVecs)
    val idxPath =
      java.nio.file.Files.createTempDirectory("graft_cdc_e2e").toString + "/annidx"
    Round10Queries.annIndexRows(
        base.select(col("doc_id").as("vec_id"), col("label"), col("v")), cents, cb)
      .repartition(6).write.parquet(idxPath)
    val g0 = Round11Queries.knnGraphBuild(baseVecs, 15, 30, 3)
      .select(col("src"), col("nb"), col("sim")).localCheckpoint(false)
    val thr0 = Round11Queries.clusterThreshold(g0)
    val st = new Streaming.IngestState(
      Streaming.buildNearDupIndex(base.select("doc_id", "text"), 64),
      idxPath,
      g0,
      baseVecs.localCheckpoint(true),
      cents, cb,
      layers = Some(Round11Queries.hnswLayers(baseVecs).localCheckpoint(false)),
      clusters = Some((Round11Queries.clusterMap(
        baseVecs.select(col("vec_id")), g0, thr0).localCheckpoint(false), thr0)))
    def vecOf(id: Long): Seq[Double] =
      joined.filter(col("doc_id") === id).select("v").collect().head.getSeq[Double](0)
    val text5 = base.filter(col("doc_id") === 5).select("text").collect().head.getString(0)
    val fresh450 = "novel takedown-exercise document describing the delete lifecycle"
    // d1: RETIRE base doc 5, add novel 450; d2: re-add 5's text under a
    // NEW id (must be accepted — the takedown freed the gate) and retire
    // the drop-1 survivor 450 (a delete of an APPENDED row)
    val d1 = Seq(Streaming.IngestDoc(5, "", 0, Seq.empty, op = "del"),
                 Streaming.IngestDoc(450, fresh450, 2, vecOf(450)))
    val d2 = Seq(Streaming.IngestDoc(902, text5, 1, vecOf(5)),
                 Streaming.IngestDoc(450, "", 0, Seq.empty, op = "del"))
    val mem = MemoryStream[Streaming.IngestDoc]
    val verdicts = scala.collection.mutable.Map[Long, Map[Long, Int]]()
    val q = Streaming.ingestLoop(mem.toDF(), st, bandCap = 64, kInt = 15,
      undCap = 30, compactEvery = 2, compactTarget = 64L << 20,
      (id, v) => verdicts.synchronized {
        verdicts(id) = v.select("doc_id", "kept").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
      })
    mem.addData(d1: _*); q.processAllAvailable()
    mem.addData(d2: _*); q.processAllAvailable()
    q.stop()
    // 1) gate verdicts: only add rows are gated; 902 ACCEPTED because
    //    doc 5's takedown freed its signatures from the index
    assert(verdicts(0L) == Map(450L -> 1), s"drop1: ${verdicts.get(0L)}")
    assert(verdicts(1L) == Map(902L -> 1), s"drop2: ${verdicts.get(1L)}")
    val surviving = (0L until 400L).toSet - 5L + 902L
    // 2) delete-aware index read holds exactly the survivors — and the
    //    in-loop purge after d2 made it PHYSICAL (sidecar gone, raw read
    //    identical, second purge a no-op)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids(Round10Queries.readAnnIndex(spark, idxPath)) == surviving)
    assert(ids(spark.read.parquet(idxPath)) == surviving,
      "purge must have physically removed tombstoned rows")
    assert(!new java.io.File(idxPath + ".tombstones").exists(),
      "purge must clear the tombstone sidecar")
    assert(Round10Queries.purgeAnnIndex(spark, idxPath) == 0, "purge must be idempotent")
    // 3) graph and corpus: retired ids in NO edge, survivors covered
    val gIds = st.graph.select("src").collect().map(_.getLong(0)).toSet ++
      st.graph.select("nb").collect().map(_.getLong(0)).toSet
    assert(!gIds.contains(5L) && !gIds.contains(450L), "graph still references a retired id")
    assert(gIds.contains(902L), "re-added doc must be in the repaired graph")
    assert(ids(st.corpus) == surviving)
    // 4) layers: no retired id on any level
    val lIds = st.layers.get.select("src").collect().map(_.getLong(0)).toSet ++
      st.layers.get.select("nb").collect().map(_.getLong(0)).toSet
    assert(!lIds.contains(5L) && !lIds.contains(450L), "layers still reference a retired id")
    // 4b) cluster state tracked the same CDC stream: exactly the
    //     survivors, retired ids gone, decision table still leakage-safe
    val cm = st.clusters.get._1.select("vec_id", "cluster_id", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(cm.keySet == surviving, "cluster map must hold exactly the surviving ids")
    cm.groupBy(_._2._1).foreach { case (cid, mem) =>
      assert(mem.values.map(_._2).toSeq.distinct.size == 1,
        s"cluster $cid straddles a split after CDC maintenance")
    }
    // 5) serving reflects the delete + re-add: a probe with doc 5's OWN
    //    vector now lands on 902 (its re-licensed copy), never on 5
    val top1 = Streaming.annProbe(Round10Queries.readAnnIndex(spark, idxPath),
        st.corpus.select(col("vec_id"), col("v")),
        Seq((8005L, vecOf(5))).toDF("q_id", "qv"),
        shortlist = 32, k = 5, excludeSelf = false)
      .filter(col("rn") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(top1(8005L)._1 == 902L && top1(8005L)._2 >= 9999L,
      s"probe with the retired doc's vector must land on its re-added copy, got ${top1(8005L)}")
  }

  test("HNSW layer ingest: drop folds into its promoted layers, upper layers untouched") {
    import graft.queries.Round11Queries
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val bOld = e.filter(col("vec_id") < 400)
    val drop = e.filter(col("vec_id") >= 400)
    def lvlOf(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val h = java.lang.Long.parseLong(hex, 16)
      (1 to 8).foldLeft(0)((acc, l) => if (h % math.pow(4, l).toLong == 0) l else acc)
    }
    val layers0 = Round11Queries.hnswLayers(bOld).localCheckpoint(false)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, Long, Long)] =
      df.select("lvl", "src", "nb", "sim").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val inc = Round11Queries.appendToHnsw(layers0, bOld, drop).localCheckpoint(false)
    val incRows = rows(inc)
    val dropMaxL = (400L until 500L).map(lvlOf).max
    assert(dropMaxL >= 1, "fixture must promote at least one drop id past level 0")
    // 1) per-level src invariants. Exact coverage is NOT the layer-build
    //    contract (a tiny layer can leave an LSH-isolated node listless —
    //    the fixture's 6-node level 3 does), so pin what IS the contract:
    //    soundness (only promoted grown-corpus ids appear), no loss (an
    //    append never evicts an existing node's list), and arrival
    //    coverage at least matching a from-scratch rebuild on the grown
    //    corpus (the incremental path sees strictly more candidate edges)
    val rebuildRows = rows(Round11Queries.hnswLayers(e))
    for (l <- 1 to 8) {
      val promoted = (0L until 500L).filter(lvlOf(_) >= l).toSet
      val got = incRows.filter(_._1 == l).map(_._2)
      assert(got.subsetOf(promoted), s"level $l holds unpromoted srcs: ${got -- promoted}")
      val pre = rows(layers0).filter(_._1 == l).map(_._2)
      assert(pre.subsetOf(got), s"level $l lost existing srcs: ${pre -- got}")
      val rebuildDrops = rebuildRows.filter(_._1 == l).map(_._2).filter(_ >= 400L)
      assert(rebuildDrops.subsetOf(got),
        s"level $l misses arrivals a rebuild covers: ${rebuildDrops -- got}")
    }
    // 2) layers ABOVE the drop's deepest promotion are returned untouched
    //    (by construction, not by diffing)
    val upper0 = rows(layers0).filter(_._1 > dropMaxL)
    assert(incRows.filter(_._1 > dropMaxL) == upper0,
      s"levels > $dropMaxL must be bit-identical to the pre-append layers")
    // 3) determinism
    assert(rows(Round11Queries.appendToHnsw(layers0, bOld, drop)) == incRows,
      "HNSW maintenance must be deterministic")
    // 4) the per-layer improvement invariant: an existing promoted node's
    //    rank-r sim can only rise (level 1, the busiest touched layer)
    def lists(rs: Set[(Int, Long, Long, Long)], l: Int): Map[Long, Seq[Long]] =
      rs.filter(_._1 == l).toSeq.groupBy(_._2).view
        .mapValues(_.map(t => (t._4, t._3)).sortBy { case (sm, nb) => (-sm, nb) }
          .map(_._1)).toMap
    val oldL1 = lists(rows(layers0), 1)
    val newL1 = lists(incRows, 1)
    for ((node, old) <- oldL1; (oldSim, i) <- old.zipWithIndex
         if i < newL1(node).size) {
      assert(newL1(node)(i) >= oldSim,
        s"level-1 node $node rank ${i + 1}: sim fell $oldSim -> ${newL1(node)(i)}")
    }
  }

  test("serving ACROSS the compaction swap window: pre- or post-compaction answers, never an error") {
    import spark.implicits._
    import graft.queries.Round11Queries
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val bOld = e.filter(col("vec_id") < 400)
    val drop = e.filter(col("vec_id") >= 400)
    val root = java.nio.file.Files
      .createTempDirectory("graft_knng_swap").toString + "/knng"
    Round11Queries.knnGraphBuild(bOld, 15, 30, 1)
      .select(col("src"), col("nb"), col("sim"))
      .repartition(8).write.parquet(s"$root/graph")
    Round11Queries.cappedBuckets(Round11Queries.bucketMembership(bOld))
      .select(col("t"), col("bk"), col("nb"))
      .repartition(4).write.parquet(s"$root/buckets")
    Round11Queries.appendToKnnGraphIndex(spark, root, e, drop)
    Round11Queries.deleteFromKnnGraphIndex(spark, root, Seq(450L).toDF("vec_id"))
    val qv = e.filter(col("vec_id") === 470L)
      .select("v").collect().head.getSeq[Double](0)
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val served = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val sq = Streaming.graphSearchStream(
      mem.toDF().toDF("q_id", "qv"), root, e, k = 5,
      df => served.synchronized {
        served += df.orderBy("rn").select("vec_id").collect().map(_.getLong(0)).toSeq
      })
    def search(): Seq[Long] = {
      mem.addData((9470L, qv)); sq.processAllAvailable()
      served.synchronized(served.last)
    }
    val pre = search()
    assert(pre.head == 470L && !pre.contains(450L))
    // 1) DETERMINISTIC mid-swap replay. The swap lands compacted files
    //    into the live directory under fresh names BEFORE retiring the
    //    originals, with the tombstone sidecar still in place — a serve
    //    that plans in that window reads old ∪ new minus tombstones.
    //    Snapshot the pre-compaction file set, compact, then restore the
    //    originals + sidecar alongside the compacted files and probe.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    def partFiles(dir: String) = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val side = Files.createTempDirectory("graft_knng_side")
    val saved = (partFiles(s"$root/graph").map(("graph", _)) ++
        partFiles(s"$root/buckets").map(("buckets", _))).map { case (d, p) =>
      val dst = side.resolve(s"$d-${p.getFileName}")
      Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES); (d, p, dst)
    }
    val tombSrc = Paths.get(s"$root/tombstones")
    val tombSaved = Files.list(tombSrc).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.map { p =>
        val dst = side.resolve(s"tomb-${p.getFileName}")
        Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES); (p, dst)
      }
    assert(Round11Queries.compactKnnGraphIndex(spark, root) > 0)
    val post = search()
    assert(post.head == 470L && !post.contains(450L))
    // restore originals + sidecar → the exact mid-swap superset state
    saved.foreach { case (_, orig, dst) =>
      Files.copy(dst, orig, StandardCopyOption.COPY_ATTRIBUTES) }
    tombSaved.foreach { case (orig, dst) =>
      Files.createDirectories(tombSrc)
      Files.copy(dst, orig, StandardCopyOption.COPY_ATTRIBUTES) }
    val mid = search()
    assert(mid.head == 470L,
      s"mid-swap serve must keep the top answer, got $mid")
    assert(!mid.contains(450L),
      "mid-swap serve must still hide the tombstoned id (sidecar is live)")
    assert(mid == pre || mid == post ||
        mid.toSet.subsetOf(pre.toSet ++ post.toSet),
      s"mid-swap beam must come from pre/post answers: $pre / $post / $mid")
    // back to the post state (retire originals, clear the sidecar's
    // FILES but deliberately leave the EMPTY tombstones dir — the state
    // a compaction crash between the last file delete and the dir
    // delete leaves behind; the read must treat it as "no sidecar")
    saved.foreach { case (_, orig, _) => Files.delete(orig) }
    tombSaved.foreach { case (orig, _) => Files.delete(orig) }
    assert(search() == post,
      "post-window serve (with a crash-left empty sidecar dir) must equal the compacted answer")
    // the same crash-left empty sidecar under every other delete-aware
    // call: a knngraph append, and annidx3's read, append and purge —
    // each must answer exactly as with no sidecar at all
    Round11Queries.appendToKnnGraphIndex(spark, root, e,
      e.filter(col("vec_id") >= 400 && col("vec_id") =!= 450L))
    locally {
      import graft.queries.{LlmQueries, Round10Queries}
      val ev = Tables.embeddings(spark, sf("sf0.001"))
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .filter(col("vec_id") < 300)
      val vecs = ev.select(col("vec_id"), col("v"))
      val (cents, cb) = (LlmQueries.ivfCentroids(vecs), LlmQueries.pqCodebook(vecs))
      val annDir = Files.createTempDirectory("graft_ann_empty_sidecar")
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).toSeq.sorted
      val Seq(bare, crashed) = Seq("bare", "crashed").map { n =>
        Round10Queries.annIndexRows(ev.filter(col("vec_id") < 200), cents, cb)
          .write.parquet(s"$annDir/$n")
        s"$annDir/$n"
      }
      Files.createDirectories(Paths.get(s"$crashed.tombstones"))
      assert(rowsOf(Round10Queries.readAnnIndex(spark, crashed)) ==
        rowsOf(spark.read.parquet(bare)), "read over an empty annidx sidecar")
      Seq(bare, crashed).foreach(p => Round10Queries.appendToAnnIndex(
        ev.filter(col("vec_id") >= 200), p, cents, cb))
      assert(Round10Queries.purgeAnnIndex(spark, crashed) == 0,
        "purge over an empty annidx sidecar has nothing to rewrite")
      assert(rowsOf(Round10Queries.readAnnIndex(spark, crashed)) ==
        rowsOf(spark.read.parquet(bare)), "append + purge over an empty annidx sidecar")
    }
    Files.delete(tombSrc)
    // 2) LIVE RACE: micro-batches stream while a background thread runs
    //    append → compact cycles (each append reopens compaction work).
    //    No schedule is assumed — only the swap-window guarantee: every
    //    probe answers, never errors, never surfaces the tombstoned id.
    @volatile var maintErr: Option[Throwable] = None
    val maint = new Thread(() => try {
      for (_ <- 1 to 3) {
        Round11Queries.appendToKnnGraphIndex(spark, root, e,
          e.filter(col("vec_id") >= 400 && col("vec_id") =!= 450L))
        Round11Queries.compactKnnGraphIndex(spark, root)
      }
    } catch { case t: Throwable => maintErr = Some(t) })
    maint.start()
    val raced = (1 to 6).map(_ => search())
    maint.join()
    assert(maintErr.isEmpty, s"maintenance thread failed: $maintErr")
    raced.foreach { r =>
      assert(r.nonEmpty && r.head == 470L && !r.contains(450L),
        s"serve during live compaction must answer pre/post, got $r")
    }
    sq.stop()
  }

  test("annidx compaction swap is exactly-once under a kill at EVERY boundary") {
    // Every artifact mutation is one commit: stage, land, rename manifest
    // <n+1> in, delete what it retired. A kill at ANY boundary must leave
    // the artifact converging to exactly one outcome: after the repair
    // rule (a file the newest manifest does not list is garbage) the
    // state is the pre-operation state when the kill came before the
    // manifest rename and the post-operation state after it, the staging
    // dir is gone and every directory lists exactly the manifest;
    // re-running the operation then lands it once — keyed appends and
    // deletes by their batch key, compaction and purge by their no-op
    // rules. The state is both the delete-aware rows and the PHYSICAL
    // ones (every committed part read raw, tombstones included, and each
    // table's part count), so a compaction or purge — which keep the
    // delete-aware rows — still shows which side of the commit a kill
    // fell on. The spec kills at every failpoint of annidx append,
    // delete, compaction and purge, of knngraph compaction, and of the
    // adoption of a directory with no manifest.
    import spark.implicits._
    import graft.queries.{LlmQueries, Round10Queries, Round11Queries}
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .filter(col("vec_id") < 340).localCheckpoint(true)
    val vecs = e.select(col("vec_id"), col("v"))
    val cents = LlmQueries.ivfCentroids(vecs)
    val cb = LlmQueries.pqCodebook(vecs)
    val baseDir = Files.createTempDirectory("graft_crashrace").toString
    def copyTo(from: String, to: String): Unit =
      for ((f, t) <- Seq(from -> to, s"$from.tombstones" -> s"$to.tombstones")
           if Files.exists(Paths.get(f))) {
        val src = Paths.get(f)
        Files.walk(src).iterator().asScala.foreach { p =>
          Files.copy(p, Paths.get(t).resolve(src.relativize(p).toString))
        }
      }
    // annidx: a manifest-less base part (as annIndexRows(...).write
    // leaves it), then 5 appended drops = 6 small files, all under target,
    // and tombstones retiring every 7th id
    val bare = s"$baseDir/bare"
    Round10Queries.annIndexRows(e.filter(col("vec_id") < 100), cents, cb)
      .coalesce(1).write.parquet(bare)
    val golden = s"$baseDir/golden"
    copyTo(bare, golden)
    (0 until 5).foreach { i =>
      Round10Queries.appendToAnnIndex(
        e.filter(col("vec_id") >= 100 + i * 40 && col("vec_id") < 140 + i * 40),
        golden, cents, cb)
    }
    Round10Queries.deleteFromAnnIndex(
      e.filter(col("vec_id") < 300 && col("vec_id") % 7 === 0).select(col("vec_id")), golden)
    // knngraph: a built graph with an appended drop and pending deletes
    val knng = s"$baseDir/knng"
    val kOld = vecs.filter(col("vec_id") < 150)
    Round11Queries.knnGraphBuild(kOld, 10, 20, 1)
      .select(col("src"), col("nb"), col("sim")).repartition(2).write.parquet(s"$knng/graph")
    Round11Queries.cappedBuckets(Round11Queries.bucketMembership(kOld))
      .select(col("t"), col("bk"), col("nb")).repartition(2).write.parquet(s"$knng/buckets")
    Round11Queries.appendToKnnGraphIndex(spark, knng, vecs,
      vecs.filter(col("vec_id").between(150, 179)))
    Round11Queries.deleteFromKnnGraphIndex(spark, knng, Seq(42L, 160L).toDF("vec_id"))
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def annRows(p: String) = sorted(Round10Queries.readAnnIndex(spark, p))
    def graphRows(p: String) = {
      val (g, lists) = Round11Queries.readKnnGraphIndex(spark, p)
      sorted(g) ++ sorted(lists)
    }
    // table -> (committed part count, raw rows of those parts)
    def physical(at: Artifacts.Layout): Map[String, (Int, Seq[String])] = {
      val m = Artifacts.snapshot(spark, at)
      at.dirs.map { case (t, _) =>
        t -> (m.parts(t).size, if (m.parts(t).isEmpty) Nil else sorted(m.read(spark, t)))
      }.toMap
    }
    final class Kill extends RuntimeException("kill")
    // (operation, source artifact, layout, delete-aware rows, run with a failpoint)
    val ops: Seq[(String, String, String => Artifacts.Layout, String => Seq[String],
        (String, String => Unit) => Unit)] = Seq(
      ("adopt", bare, Artifacts.annidx, annRows, (dir, fp) =>
        Round10Queries.appendToAnnIndex(e.filter(col("vec_id").between(100, 139)),
          dir, cents, cb, key = Some(Artifacts.Key("q/add", 0)), failpoint = fp)),
      ("append", golden, Artifacts.annidx, annRows, (dir, fp) =>
        Round10Queries.appendToAnnIndex(e.filter(col("vec_id") >= 300),
          dir, cents, cb, key = Some(Artifacts.Key("q/add", 9)), failpoint = fp)),
      ("delete", golden, Artifacts.annidx, annRows, (dir, fp) =>
        Round10Queries.deleteFromAnnIndex(Seq(1L, 2L, 3L).toDF("vec_id"),
          dir, key = Some(Artifacts.Key("q/del", 9)), failpoint = fp)),
      ("compact", golden, Artifacts.annidx, annRows, (dir, fp) =>
        Round10Queries.compactAnnIndex(spark, dir, 1L << 20, fp)),
      ("purge", golden, Artifacts.annidx, annRows, (dir, fp) =>
        Round10Queries.purgeAnnIndex(spark, dir, fp)),
      ("knngraph-compact", knng, Artifacts.knngraph, graphRows, (dir, fp) =>
        Round11Queries.compactKnnGraphIndex(spark, dir, fp)))
    for ((op, src, layout, rows, run) <- ops) {
      def state(dir: String) = (rows(dir), physical(layout(dir)))
      val pre = state(src)
      // discover the failpoint labels with a recording (non-killing) run
      val labels = scala.collection.mutable.ArrayBuffer[String]()
      val probe = s"$baseDir/probe-$op"
      copyTo(src, probe)
      run(probe, fp => labels += fp)
      val after = state(probe)
      assertListedAsCommitted(layout(probe), s"after the uncrashed $op")
      assert(after._2 != pre._2, s"the uncrashed $op must change the committed parts")
      // compaction and purge keep the delete-aware rows; the rest move them
      assert((after._1 == pre._1) == Set("compact", "purge")(op),
        s"the uncrashed $op must converge to its row multiset")
      val (idxPre, idxAfter) = (pre._2.get("index"), after._2.get("index"))
      // compaction keeps every physical row, tombstoned ones included, in
      // fewer parts; purge rewrites the parts down to the delete-aware
      // rows and retires every tombstone
      if (op == "compact")
        assert(idxAfter.map(_._2) == idxPre.map(_._2) && idxAfter.get._1 < idxPre.get._1 &&
          after._2(Artifacts.Tombstones) == pre._2(Artifacts.Tombstones),
          "compaction must fold the parts and keep every physical row")
      if (op == "purge")
        assert(idxAfter.get._2 == pre._1 && after._2(Artifacts.Tombstones) == (0, Nil),
          "purge must rewrite the parts down to the delete-aware rows")
      assert(Seq("staged", "landed", "committed").forall(labels.contains) &&
        (op != "adopt" || labels.contains("adopted")) &&
        (Set("append", "delete", "adopt")(op) || labels.exists(_.startsWith("deleted-"))),
        s"unexpected $op failpoints: $labels")
      labels.zipWithIndex.foreach { case (kill, i) =>
        val dir = s"$baseDir/crash-$op-$i"
        copyTo(src, dir)
        intercept[Kill] {
          run(dir, fp => if (fp == kill) throw new Kill)
        }
        // the repair rule alone converges to exactly one side of the
        // manifest rename, leaving no debris
        Artifacts.repair(spark, layout(dir))
        val committed = i >= labels.indexOf("committed")
        assert(state(dir) == (if (committed) after else pre),
          s"state diverged after $op kill at '$kill' + repair")
        assert(!Files.exists(Paths.get(layout(dir).staging)),
          s"staging dir left behind after $op kill at '$kill'")
        assertListedAsCommitted(layout(dir), s"after $op kill at '$kill' + repair")
        // and re-running the operation lands it exactly once
        run(dir, _ => ())
        assert(state(dir) == after, s"state diverged after $op kill at '$kill' + re-run")
        assertListedAsCommitted(layout(dir), s"after $op kill at '$kill' + re-run")
      }
    }
  }
}
